"""Scale-path LLM-pipeline queries: LSH dedup, SRP-LSH ANN, multimodal
feature extraction.

Oracle strategy: LSH pipelines are checked with **planted duplicates**
— union the corpus with a perturbed/verbatim copy of itself under
shifted ids. The Spark side runs the full LSH machinery (signatures,
banding, bucket joins, verify); the oracle states the ground truth the
pipeline must recover exactly. Parameters are chosen so recall is
certain (verify step is exact) and false positives are impossible at
the checked scale (confirmed empirically; the exact-Jaccard /
exact-Hamming verify makes the outputs deterministic, not
probabilistic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.catalog import load_table
from ccgp_data_wrangling_spark.operators.components import neardup_clusters
from ccgp_data_wrangling_spark.operators.dedup import (
    embedding_neardup_pairs,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from ccgp_data_wrangling_spark.operators.knn import (
    ann_topk,
    brute_force_topk,
    ivf_topk,
)
from ccgp_data_wrangling_spark.operators.multimodal import extract_media_features
from ccgp_data_wrangling_spark.queries import register

_OFFSET = 1_000_000


# ---------------------------------------------------------------------------
# MinHash LSH near-dup: plant near-duplicates (one token appended) and
# require the pipeline to recover exactly the planted pairs.
# ---------------------------------------------------------------------------

# Ground truth: exact word-5-shingle Jaccard ≥ 0.7 over the planted
# corpus, computed via a shingle inverted index (the corpus contains
# NATURAL near-dup families planted by the data generator, plus our
# perturbed copies). The Spark side must recover exactly this set —
# its verify step is exact Jaccard, and the banding params make the
# (deterministic, fixed-seed) recall complete at the checked scales.
_MINHASH_SQL = rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_OFFSET}, text || ' zzqxj' FROM documents
),
tok AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks FROM corpus),
sh AS (
  SELECT doc_id,
         LIST_DISTINCT(
           LIST_TRANSFORM(RANGE(GREATEST(LEN(toks) - 4, 1)),
                          i -> ARRAY_TO_STRING(toks[i + 1 : i + 5], ' '))
         ) AS shingles
  FROM tok
),
sizes AS (SELECT doc_id, LEN(shingles) AS n FROM sh),
ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(ninter AS DOUBLE) / (sa.n + sb.n - ninter) >= 0.7
"""


@register("minhash_neardup_planted", _MINHASH_SQL)
def minhash_neardup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.select(
        (F.col("doc_id") + _OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqxj")).alias("text"),
    )
    corpus = docs.unionByName(perturbed)
    # 32 bands × 2 rows: P(miss) at the 0.7 threshold ≈ (1-0.49)^32 —
    # recall is effectively certain; the exact-Jaccard verify keeps
    # precision exact, extra candidates only cost verify work
    pairs = minhash_neardup_pairs(
        corpus, "doc_id", "text", threshold=0.7, n_hashes=64, bands=32
    )
    return pairs.select(F.col("id_a"), F.col("id_b"))


# ---------------------------------------------------------------------------
# Near-dup cluster canonicalization: the pair set above, grouped into
# connected components with one canonical survivor per cluster.
# ---------------------------------------------------------------------------

# Ground truth: transitive closure (recursive CTE) over the exact
# Jaccard-pair set; cluster id = smallest doc id reachable. The Spark
# side must produce the identical clustering via alternating
# large-star/small-star contraction — a completely different algorithm
# arriving at the same fixpoint, which is what makes this a strong
# oracle for the iterative operator.
_CLUSTER_SQL = rf"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_OFFSET}, text || ' zzqxj' FROM documents
),
tok AS (SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks FROM corpus),
sh AS (
  SELECT doc_id,
         LIST_DISTINCT(
           LIST_TRANSFORM(RANGE(GREATEST(LEN(toks) - 4, 1)),
                          i -> ARRAY_TO_STRING(toks[i + 1 : i + 5], ' '))
         ) AS shingles
  FROM tok
),
sizes AS (SELECT doc_id, LEN(shingles) AS n FROM sh),
ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(ninter AS DOUBLE) / (sa.n + sb.n - ninter) >= 0.7
),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT a AS node, b AS r FROM sym
  UNION
  SELECT w.node, e.b FROM reach w JOIN sym e ON w.r = e.a
),
comp AS (
  SELECT node, LEAST(node, MIN(r)) AS cluster_id FROM reach GROUP BY node
),
csizes AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT comp.node AS doc_id,
       comp.cluster_id,
       csizes.cluster_size,
       comp.node = comp.cluster_id AS is_canonical
FROM comp JOIN csizes USING (cluster_id)
"""


@register("neardup_cluster_canonical", _CLUSTER_SQL)
def neardup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash pairs → large-star/small-star components → canonical
    doc per cluster (operators/components.py). The scale step the
    reference pipeline lacks entirely: pair lists alone can't answer
    "which copy do we keep" once dup families are transitive.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    perturbed = docs.select(
        (F.col("doc_id") + _OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqxj")).alias("text"),
    )
    corpus = docs.unionByName(perturbed)
    pairs = minhash_neardup_pairs(
        corpus, "doc_id", "text", threshold=0.7, n_hashes=64, bands=32
    )
    return neardup_clusters(pairs)


# ---------------------------------------------------------------------------
# SimHash near-dup: verbatim copies → Hamming distance 0, recovered
# through the banded bucket join (not by content equality).
# ---------------------------------------------------------------------------

# Ground truth: identical token MULTISETS. SimHash banding is the
# candidate generator (recall is EXACT at hamming 0: equal multisets →
# equal simhash → every band chunk equal → always a candidate, by
# construction not probability); the query's verify step is exact bag
# equality, so precision is exact too. Hamming-0 collisions between
# merely-similar docs DO occur (simhash clusters similar inputs by
# design), which is why the verify step exists.
_SIMHASH_SQL = rf"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_OFFSET}, text FROM documents
),
norm AS (
  SELECT doc_id, LIST_SORT(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS bag
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
FROM norm a JOIN norm b ON a.bag = b.bag AND a.doc_id < b.doc_id
"""


@register("simhash_dup_planted", _SIMHASH_SQL)
def simhash_dup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + _OFFSET).alias("doc_id"), F.col("text")
    )
    corpus = docs.unionByName(copies)
    pairs = simhash_neardup_pairs(corpus, "doc_id", "text", max_hamming=0)
    # exact verify: bag-of-tokens equality (simhash pruned the pair
    # space; candidates are tiny, so this join touches few rows)
    bags = corpus.select(
        "doc_id",
        F.array_sort(F.split(F.trim(F.col("text")), r"\s+")).alias("bag"),
    )
    return (
        pairs.join(bags.withColumnRenamed("doc_id", "id_a"), "id_a")
        .withColumnRenamed("bag", "bag_a")
        .join(bags.withColumnRenamed("doc_id", "id_b"), "id_b")
        .where(F.col("bag_a") == F.col("bag"))
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# ANN recall vs brute force, oracle-checked on the PLANTED corpus: the
# exact top-5 is the planted set (cos ≈ 1 vs a 0.37 natural ceiling),
# and at these parameters a planted neighbor escapes LSH with
# P ≈ 8e-7 per pair (seeded, so the run is deterministic either way)
# while IVF assigns a near-copy of the query to the query's own probe
# set by construction — so `hit` is provably TRUE on every rank and
# the exact-vs-approx join harness itself gets a DuckDB oracle.
# Recall on the NATURAL corpus (parameter-dependent, not
# oracle-expressible) stays a pytest concern: tests/test_properties.py.
# ---------------------------------------------------------------------------


def _query_vec(emb: DataFrame) -> list[float]:
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    return [float(x) for x in qrow[0]]


# ---------------------------------------------------------------------------
# Planted-neighbor ANN, oracle-checked: 5 copies of the query vector
# with coordinate 0 nudged by 0.01·j sit at cosine ≈ 1 (the natural
# corpus tops out at ≈ 0.37), so the exact top-5 IS the planted set and
# any sound ANN must return it. LSH at 12 bits × 8 tables misses a
# cos ≈ 1 neighbor with P ≈ 1e-15; IVF assigns a near-copy of the query
# to the query's own probe set by construction.
# ---------------------------------------------------------------------------

_PLANT_BASE = 2_000_000

_ANN_PLANTED_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
planted AS (
  SELECT {_PLANT_BASE} + j AS vec_id,
         [qv[1] + 0.01 * j] || qv[2:64] AS v
  FROM q, RANGE(1, 6) t(j)
),
corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0
  UNION ALL SELECT vec_id, v FROM planted
),
scored AS (
  SELECT c.vec_id,
         ROUND(LIST_COSINE_SIMILARITY(c.v, q.qv), 4) AS cos_sim
  FROM corpus c CROSS JOIN q
)
SELECT vec_id, cos_sim, rank FROM (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _planted_corpus(spark: SparkSession, emb: DataFrame, qv: list[float]) -> DataFrame:
    planted = spark.createDataFrame(
        [
            (_PLANT_BASE + j, [qv[0] + 0.01 * j] + qv[1:])
            for j in range(1, 6)
        ],
        "vec_id long, embedding array<double>",
    )
    return (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(planted)
    )


@register("ann_lsh_planted", _ANN_PLANTED_SQL)
def ann_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    corpus = _planted_corpus(spark, emb, qv)
    return ann_topk(corpus, qv, 5, n_tables=8, n_bits=12).select(
        "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


@register("ann_ivf_planted", _ANN_PLANTED_SQL)
def ann_ivf_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    corpus = _planted_corpus(spark, emb, qv)
    return ivf_topk(corpus, qv, 5, n_centroids=32, n_probe=8).select(
        "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


_ANN_VS_EXACT_SQL = f"""
WITH q AS (
  SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
),
planted AS (
  SELECT {_PLANT_BASE} + j AS vec_id,
         [qv[1] + 0.01 * j] || qv[2:64] AS v
  FROM q, RANGE(1, 6) t(j)
),
corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id <> 0
  UNION ALL SELECT vec_id, v FROM planted
),
scored AS (
  SELECT c.vec_id,
         ROUND(LIST_COSINE_SIMILARITY(c.v, q.qv), 4) AS cos_sim
  FROM corpus c CROSS JOIN q
),
ranked AS (
  SELECT vec_id,
         CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
  FROM scored
)
SELECT rank, vec_id AS exact_id, TRUE AS hit FROM ranked WHERE rank <= 5
"""


@register("ann_lsh_vs_exact", _ANN_VS_EXACT_SQL)
def ann_lsh_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    corpus = _planted_corpus(spark, emb, qv)
    exact = brute_force_topk(corpus, qv, 5).select(
        F.col("vec_id").alias("exact_id"), "rank"
    )
    approx = ann_topk(corpus, qv, 5, n_tables=8, n_bits=12).select(
        F.col("vec_id").alias("ann_id")
    )
    return exact.join(
        approx, exact.exact_id == approx.ann_id, "left"
    ).select(
        "rank", "exact_id", F.col("ann_id").isNotNull().alias("hit")
    )


@register("ann_ivf_vs_exact", _ANN_VS_EXACT_SQL)
def ann_ivf_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(emb)
    corpus = _planted_corpus(spark, emb, qv)
    exact = brute_force_topk(corpus, qv, 5).select(
        F.col("vec_id").alias("exact_id"), "rank"
    )
    approx = ivf_topk(corpus, qv, 5, n_centroids=32, n_probe=8).select(
        F.col("vec_id").alias("ivf_id")
    )
    return exact.join(
        approx, exact.exact_id == approx.ivf_id, "left"
    ).select(
        "rank", "exact_id", F.col("ivf_id").isNotNull().alias("hit")
    )


# ---------------------------------------------------------------------------
# MULTI-query IVF retrieval (knn.ivf_topk_multi): ten query vectors
# retrieve their top-2 in one distributed plan — probes explode to
# (query, centroid) rows and equi-join the assigned corpus; no
# per-query driver loop. Planted oracle: each query gets two nudged
# near-copies (cos ≈ 1 vs a ≈ 0.37 natural ceiling), so the exact
# per-query top-2 IS its planted pair. The approximate path matching
# the exact answer additionally requires each near-copy's assigned
# centroid to land in its query's 8-probe set — true for THESE fixed
# seeds/parameters (asserted by test_knn's probe-inclusion check),
# not guaranteed for arbitrary seed/n_centroids/n_probe choices.
# ---------------------------------------------------------------------------

_MULTI_IVF_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
planted AS (
  SELECT {_PLANT_BASE} + query_id * 10 + j AS vec_id,
         [qv[1] + 0.01 * j] || qv[2:64] AS v
  FROM q, RANGE(1, 3) t(j)
),
corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id >= 10
  UNION ALL SELECT vec_id, v FROM planted
),
scored AS (
  SELECT q.query_id, c.vec_id,
         ROUND(LIST_COSINE_SIMILARITY(c.v, q.qv), 4) AS cos_sim
  FROM corpus c CROSS JOIN q
)
SELECT query_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 2
"""


@register("ann_ivf_multiquery_planted", _MULTI_IVF_SQL)
def ann_ivf_multiquery_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval for 10 queries at once via ivf_topk_multi —
    the persisted-IVF-layout probe path rag_retrieve_chunks and
    ivf_topk only documented. Scale shape: one Arrow matmul kernel
    assigns the corpus and lists each query's probes
    (knn.nearest_centroids), (query, centroid) equi-join, per-query
    window top-k; candidate volume per query = probed-cell occupancy."""
    from ccgp_data_wrangling_spark.operators.knn import ivf_topk_multi

    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qvec"),
    )
    planted = qdf.select(
        F.col("query_id"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("j"),
        F.col("qvec"),
    ).select(
        (F.lit(_PLANT_BASE) + F.col("query_id") * 10 + F.col("j")).alias("vec_id"),
        F.concat(
            F.array(F.element_at("qvec", 1) + 0.01 * F.col("j")),
            F.slice("qvec", 2, 63),
        ).alias("embedding"),
    )
    corpus = (
        emb.where(F.col("vec_id") >= 10)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .unionByName(planted)
    )
    out = ivf_topk_multi(
        corpus, qdf, 2, n_centroids=32, n_probe=8
    )
    return out.select(
        "query_id", "vec_id", "cos_sim", F.col("rank").cast("int").alias("rank")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup on the NATURAL corpus (the generator
# plants near-dup families): inverted-index candidates + exact Jaccard,
# no LSH approximation anywhere, so the oracle is a direct mirror.
# ---------------------------------------------------------------------------

_NGRAM_SQL = r"""
WITH tok AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks FROM documents
),
gr AS (
  SELECT doc_id,
         LIST_DISTINCT(
           LIST_TRANSFORM(RANGE(GREATEST(LEN(toks) - 2, 1)),
                          i -> ARRAY_TO_STRING(toks[i + 1 : i + 3], ' '))
         ) AS grams
  FROM tok
),
sizes AS (SELECT doc_id, LEN(grams) AS n FROM gr),
ex AS (SELECT doc_id, UNNEST(grams) AS g FROM gr),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ni
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(ni AS DOUBLE) / (sa.n + sb.n - ni), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(ni AS DOUBLE) / (sa.n + sb.n - ni) >= 0.5
"""


@register("ngram_jaccard_neardup", _NGRAM_SQL)
def ngram_jaccard_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup: planted +0.05-perturbed copies sit at
# cosine ≈ 0.9988 (unit-norm corpus; natural pairs top out at ≈ 0.37).
# SRP-LSH candidates + exact-cosine verify; at these parameters a
# planted pair escapes all 8 tables with P ≈ 8e-7, so the planted set
# is recovered exactly. Oracle: brute-force pair scan.
# ---------------------------------------------------------------------------

_EMB_BASE = 3_000_000

_EMB_NEARDUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT {_EMB_BASE} + vec_id,
         [CAST(embedding AS DOUBLE[])[1] + 0.05] || CAST(embedding AS DOUBLE[])[2:64]
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) AS cos_sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE ROUND(LIST_COSINE_SIMILARITY(a.v, b.v), 4) >= 0.99
"""


@register("embedding_cosine_neardup", _EMB_NEARDUP_SQL)
def embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    pert = emb.select(
        (F.col("vec_id") + _EMB_BASE).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + 0.05),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    corpus = emb.unionByName(pert)
    # dim passed explicitly (testdata embeddings are 64-wide) so the
    # operator stays fully lazy — no single-row sniff job
    return embedding_neardup_pairs(
        corpus, "vec_id", "embedding", threshold=0.99, dim=64
    )


# ---------------------------------------------------------------------------
# Multimodal: documents' text bytes as opaque binary payloads pushed
# through the Arrow/mapInPandas feature extractor; oracle recomputes
# the deterministic fake-decoder outputs in SQL.
# ---------------------------------------------------------------------------

_MEDIA_SQL = """
SELECT doc_id AS id,
       'text/utf8' AS media_type,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT)      AS n_bytes,
       MD5(text)                                       AS content_md5,
       CAST(OCTET_LENGTH(ENCODE(text)) % 640 + 1 AS INT) AS fake_width,
       CAST(OCTET_LENGTH(ENCODE(text)) % 480 + 1 AS INT) AS fake_height
FROM documents
"""


@register("multimodal_features", _MEDIA_SQL)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("text/utf8").alias("media_type"),
    )
    feats = extract_media_features(media)
    # byte_mean is engine-side only (no tractable SQL oracle) — dropped
    # from the checked projection
    return feats.select(
        "id", "media_type", "n_bytes", "content_md5", "fake_width", "fake_height"
    )


# ---------------------------------------------------------------------------
# Multimodal frame sampling: the 1→N expansion (UDTF shape) of a video
# pipeline, plumbing-checked — duration derives from n_chars so the
# oracle can regenerate the (id, frame_idx, ts) grid with
# generate_series; frame payloads are engine-side only.
# ---------------------------------------------------------------------------

_FRAMES_SQL = """
SELECT d.doc_id AS id,
       CAST(t.k AS INT) AS frame_idx,
       ROUND(CAST(t.k * 2.5 AS DOUBLE), 2) AS frame_ts_sec
FROM documents d,
     UNNEST(GENERATE_SERIES(0, CAST(FLOOR((d.n_chars / 100.0) / 2.5) AS INT))) AS t(k)
"""


@register("multimodal_frame_sample", _FRAMES_SQL)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("id"),
        F.encode("text", "utf-8").alias("payload"),
        (F.col("n_chars") / 100.0).alias("duration_sec"),
    )
    frames = sample_frames(media, every_sec=2.5)
    return frames.select(
        "id", "frame_idx", F.round("frame_ts_sec", 2).alias("frame_ts_sec")
    )


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): cluster-then-prune semantic dedup.
# Planted near-copies (vec_id 10..19 nudged by +0.001 on coordinate 0,
# cos ≈ 1 vs the 0.51 natural ceiling) must be dropped; everything
# else survives. Assignment/pair cosines are rounded to 6 dp on both
# engines, so the clustering and the keep set are bit-deterministic.
# ---------------------------------------------------------------------------

_SEMDEDUP_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
corpus AS (
  SELECT vec_id, v FROM base
  UNION ALL
  SELECT 3000000 + vec_id, [v[1] + 0.001] || v[2:64]
  FROM base WHERE vec_id BETWEEN 10 AND 19
),
cent AS (
  SELECT vec_id AS cid, v AS cv FROM corpus ORDER BY vec_id LIMIT 8
),
sims AS (
  SELECT c.vec_id, ct.cid,
         ROUND(LIST_COSINE_SIMILARITY(c.v, ct.cv), 6) AS sim
  FROM corpus c CROSS JOIN cent ct
),
best AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cid ASC) AS rk
  FROM sims
),
assigned AS (
  SELECT c.vec_id, b.cid AS cluster, c.v
  FROM corpus c JOIN best b ON b.vec_id = c.vec_id AND b.rk = 1
),
dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM assigned lo JOIN assigned hi
    ON lo.cluster = hi.cluster AND lo.vec_id < hi.vec_id
   AND ROUND(LIST_COSINE_SIMILARITY(lo.v, hi.v), 6) >= 0.99
)
SELECT a.vec_id AS id, CAST(a.cluster AS INT) AS cluster,
       d.vec_id IS NULL AS keep
FROM assigned a LEFT JOIN dropped d ON d.vec_id = a.vec_id
"""


@register("semantic_dedup_planted", _SEMDEDUP_SQL)
def semantic_dedup_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/semdedup.semantic_dedup on embeddings ∪ planted
    near-copies. Cluster-restricted pair search caps the quadratic
    cost at Σ|cluster|²; the keep policy needs no iterative
    components (every dropped row names a smaller-id keeper)."""
    from ccgp_data_wrangling_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    v = F.col("embedding")
    planted = emb.where(F.col("vec_id").between(10, 19)).select(
        (F.col("vec_id") + 3_000_000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) + 0.001), F.slice(v, 2, 63)
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    return semantic_dedup(corpus, num_clusters=8, threshold=0.99)


@register("semantic_dedup_lsh_planted", _SEMDEDUP_SQL)
def semantic_dedup_lsh_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-cluster LSH refinement semdedup's scale notes promised
    (operators/semdedup.semantic_dedup_lsh), checked against the SAME
    exact-replay oracle as semantic_dedup_planted: candidate pairs
    must share a (cluster, SRP bucket) cell, so the in-cluster pair
    join is near-linear instead of O(|cluster|²).

    Why the exact oracle is valid here: the corpus has ZERO natural
    pairs ≥ 0.99 (verified all-pairs at sf0.01), so the drop set is
    exactly the ten planted near-copies at cos ≈ 0.9999995 — an angle
    where a seeded 2-table × 8-bit SRP miss has probability ≈ 6e-6
    and the outcome is deterministic (fixed planes, fixed data):
    LSH-refined output == exact output, bit for bit.
    """
    from ccgp_data_wrangling_spark.operators.semdedup import (
        semantic_dedup_lsh,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    v = F.col("embedding")
    planted = emb.where(F.col("vec_id").between(10, 19)).select(
        (F.col("vec_id") + 3_000_000).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) + 0.001), F.slice(v, 2, 63)
        ).alias("embedding"),
    )
    corpus = emb.unionByName(planted)
    return semantic_dedup_lsh(
        corpus, dim=64, num_clusters=8, threshold=0.99,
        n_tables=2, n_bits=8,
    )


# ---------------------------------------------------------------------------
# Incremental MinHash dedup: yesterday's corpus is indexed once; the
# new batch (planted perturbed copies) is deduped against the index
# without re-tokenizing history. Ground truth: exact 5-shingle
# Jaccard ≥ 0.7 across the new×old boundary ONLY.
# ---------------------------------------------------------------------------

_INCR_SQL = rf"""
WITH old_tok AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+') AS toks
  FROM documents
),
new_tok AS (
  SELECT doc_id + {_OFFSET} AS doc_id,
         REGEXP_SPLIT_TO_ARRAY(TRIM(text || ' zzqxj'), '\s+') AS toks
  FROM documents WHERE doc_id % 4 = 0
),
old_sh AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(toks) - 4, 1)),
                       i -> ARRAY_TO_STRING(toks[i + 1 : i + 5], ' '))) AS shingles
  FROM old_tok
),
new_sh AS (
  SELECT doc_id,
         LIST_DISTINCT(LIST_TRANSFORM(RANGE(GREATEST(LEN(toks) - 4, 1)),
                       i -> ARRAY_TO_STRING(toks[i + 1 : i + 5], ' '))) AS shingles
  FROM new_tok
),
old_ex AS (SELECT doc_id, LEN(shingles) AS n, UNNEST(shingles) AS s FROM old_sh),
new_ex AS (SELECT doc_id, LEN(shingles) AS n, UNNEST(shingles) AS s FROM new_sh),
inter AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         ANY_VALUE(n.n) AS nn, ANY_VALUE(o.n) AS nold, COUNT(*) AS ninter
  FROM new_ex n JOIN old_ex o ON n.s = o.s
  GROUP BY 1, 2
)
SELECT new_id, old_id,
       ROUND(CAST(ninter AS DOUBLE) / (nn + nold - ninter), 4) AS jaccard
FROM inter
WHERE CAST(ninter AS DOUBLE) / (nn + nold - ninter) >= 0.7
"""


@register("minhash_incremental_newbatch", _INCR_SQL)
def minhash_incremental_newbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a new batch against a historical signature index.

    The index (operators/dedup.minhash_index) summarizes the old
    corpus as (id, shingle-hashes, 64-long signature); the new batch
    — every 4th document, perturbed — joins the index through band
    buckets only, so history is never re-tokenized. 32 bands × 2
    rows makes fixed-seed recall complete at the planted ≥0.7
    threshold; the exact-Jaccard verify keeps precision exact.
    """
    from ccgp_data_wrangling_spark.operators.dedup import (
        minhash_index,
        minhash_neardup_incremental,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index = minhash_index(docs, "doc_id", "text")
    new_batch = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + _OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzqxj")).alias("text"),
    )
    return minhash_neardup_incremental(
        new_batch, index, "doc_id", "text",
        threshold=0.7, n_hashes=64, bands=32,
    )


# ---------------------------------------------------------------------------
# Bitext margin mining: the target side is a planted "translation" of
# every source vector (+0.05 on coordinate 0). Mutual margin-best
# pairs must recover exactly the 500 planted alignments. The oracle
# replays the identical arithmetic: 4-dp cosine scaled to integers,
# exact integer k-NN sums, one double division rounded to 6 dp.
# ---------------------------------------------------------------------------

_BITEXT_SQL = f"""
WITH a AS (
  SELECT vec_id AS a_id, CAST(embedding AS DOUBLE[]) AS va FROM embeddings
),
b AS (
  SELECT {_EMB_BASE} + vec_id AS b_id,
         [CAST(embedding AS DOUBLE[])[1] + 0.05] || CAST(embedding AS DOUBLE[])[2:64] AS vb
  FROM embeddings
),
scored AS (
  SELECT a_id, b_id,
         CAST(ROUND(LIST_COSINE_SIMILARITY(va, vb) * 10000, 0) AS BIGINT) AS cos_s
  FROM a CROSS JOIN b
),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY cos_s DESC, b_id) AS rk_a,
         ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY cos_s DESC, a_id) AS rk_b
  FROM scored
),
avg_a AS (
  SELECT a_id, SUM(cos_s) AS sum_a, COUNT(*) AS n_a
  FROM ranked WHERE rk_a <= 4 GROUP BY 1
),
avg_b AS (
  SELECT b_id, SUM(cos_s) AS sum_b, COUNT(*) AS n_b
  FROM ranked WHERE rk_b <= 4 GROUP BY 1
),
margined AS (
  SELECT s.a_id, s.b_id,
         ROUND(s.cos_s / (0.5 * (CAST(sum_a AS DOUBLE) / n_a
                                 + CAST(sum_b AS DOUBLE) / n_b)), 6) AS margin
  FROM scored s JOIN avg_a USING (a_id) JOIN avg_b USING (b_id)
),
best_a AS (
  SELECT a_id, b_id AS best_b FROM (
    SELECT a_id, b_id,
           ROW_NUMBER() OVER (PARTITION BY a_id ORDER BY margin DESC, b_id) AS r
    FROM margined) WHERE r = 1
),
best_b AS (
  SELECT b_id, a_id AS best_a FROM (
    SELECT b_id, a_id,
           ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY margin DESC, a_id) AS r
    FROM margined) WHERE r = 1
)
SELECT m.a_id, m.b_id, m.margin
FROM margined m JOIN best_a USING (a_id) JOIN best_b USING (b_id)
WHERE m.b_id = best_b AND m.a_id = best_a AND m.margin >= 1.5
"""


@register("bitext_margin_mine", _BITEXT_SQL)
def bitext_margin_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-best margin pairs between a source embedding set and its
    planted translations (operators/bitext.margin_mine).

    The brute-force candidate set is the exact baseline (allowlisted
    cartesian, same role as knn_top10_cosine); the production path
    passes LSH/IVF candidates into the same operator — covered by
    tests/test_bitext.py.
    """
    from ccgp_data_wrangling_spark.operators.bitext import margin_mine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    tgt = emb.select(
        (F.col("vec_id") + _EMB_BASE).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + 0.05),
            F.slice("embedding", 2, 63),
        ).alias("embedding"),
    )
    return margin_mine(emb, tgt, "vec_id", "embedding", k=4, tau=1.5)


# ---------------------------------------------------------------------------
# RAG retrieval end-to-end: chunk the corpus, hash-embed every chunk,
# retrieve the top-10 chunks for a query document by cosine. The
# embedding is the deterministic hashing trick (operators/embed.py)
# so the oracle rebuilds identical vectors; ranking tiebreaks on
# (doc_id, chunk_id) for a total order.
# ---------------------------------------------------------------------------

# DuckDB hash helper for this module (mirrors operators/sketches.
# _element_hash: first 15 md5 hex digits + 1).
_DUCK_HASH = "(CAST(('0x' || SUBSTR(md5({v}), 1, 15)) AS BIGINT) + 1)"

_RAG_SQL = f"""
WITH chunks AS (
  SELECT doc_id,
         CAST(i AS INT) AS chunk_id,
         SUBSTR(text, CAST(i * 200 + 1 AS INT), 200) AS chunk
  FROM documents,
       UNNEST(RANGE(0, CAST(CEIL(GREATEST(LENGTH(text) - 200, 0) / 200.0) AS BIGINT) + 1)) AS u(i)
  WHERE doc_id != 42
),
ctok AS (
  SELECT doc_id, chunk_id,
         UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(chunk), '\\s+')) AS w
  FROM chunks
),
ccnt AS (
  SELECT doc_id, chunk_id,
         {_DUCK_HASH.format(v="w")} % 64 AS b, COUNT(*) AS c
  FROM ctok GROUP BY 1, 2, 3
),
keys AS (SELECT DISTINCT doc_id, chunk_id FROM chunks),
cvec AS (
  SELECT k.doc_id, k.chunk_id,
         LIST(COALESCE(c.c, 0) ORDER BY r.range) AS vec
  FROM keys k
  CROSS JOIN RANGE(0, 64) r
  LEFT JOIN ccnt c ON c.doc_id = k.doc_id AND c.chunk_id = k.chunk_id
                  AND c.b = r.range
  GROUP BY 1, 2
),
qtok AS (
  SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS w
  FROM documents WHERE doc_id = 42
),
qcnt AS (
  SELECT {_DUCK_HASH.format(v="w")} % 64 AS b, COUNT(*) AS c FROM qtok GROUP BY 1
),
qvec AS (
  SELECT LIST(COALESCE(c.c, 0) ORDER BY r.range) AS vec
  FROM RANGE(0, 64) r LEFT JOIN qcnt c ON c.b = r.range
),
scored AS (
  SELECT c.doc_id, c.chunk_id,
         ROUND(LIST_COSINE_SIMILARITY(
           LIST_TRANSFORM(c.vec, x -> CAST(x AS DOUBLE)),
           LIST_TRANSFORM(q.vec, x -> CAST(x AS DOUBLE))), 4) AS cos_sim
  FROM cvec c CROSS JOIN qvec q
)
SELECT doc_id, chunk_id, cos_sim,
       CAST(rank AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id, chunk_id) AS rank
  FROM scored)
WHERE rank <= 10
"""


@register("rag_retrieve_chunks", _RAG_SQL)
def rag_retrieve_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk → embed → retrieve: top-10 corpus chunks for a query doc.

    Composition of chunk_text (codegen fan-out), hashed_embedding
    (integer feature hashing — the engine-side stand-in for a neural
    encoder, operators/embed.py docstring), one-row broadcast of the
    query vector, and TakeOrderedAndProject top-k (no global sort
    materialization). At 100 TB the chunk embeddings are written once
    partitioned by IVF centroid and probed per query
    (knn.ivf_topk); this query keeps the exact path as the oracle-
    checkable baseline.
    """
    from ccgp_data_wrangling_spark.operators.embed import hashed_embedding
    from ccgp_data_wrangling_spark.operators.knn import cosine_sim
    from ccgp_data_wrangling_spark.operators.textprep import chunk_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    chunks = chunk_text(
        docs.where(F.col("doc_id") != 42), "doc_id", "text",
        size=200, stride=200,
    )
    cvec = hashed_embedding(chunks, "chunk", ["doc_id", "chunk_id"], dim=64)
    qvec = hashed_embedding(
        docs.where(F.col("doc_id") == 42), "text", ["doc_id"], dim=64
    ).select(F.col("vec").alias("qv"))
    scored = cvec.join(F.broadcast(qvec)).select(
        "doc_id",
        "chunk_id",
        F.round(
            cosine_sim(
                F.col("vec").cast("array<double>"),
                F.col("qv").cast("array<double>"),
            ),
            4,
        ).alias("cos_sim"),
    )
    ranked = scored.orderBy(
        F.col("cos_sim").desc(), "doc_id", "chunk_id"
    ).limit(10)
    from pyspark.sql import Window

    # unpartitioned window is SAFE here: it runs over `ranked`, which
    # the limit(10) above has already reduced to k rows — the single
    # partition WindowExec warns about holds ten rows, not the corpus
    w = Window.orderBy(F.col("cos_sim").desc(), "doc_id", "chunk_id")
    return ranked.withColumn("rank", F.row_number().over(w).cast("int"))


# ---------------------------------------------------------------------------
# Content-defined chunk dedup: prefix-shifted copies must re-align
# after the insertion (the property fixed-width chunking lacks). The
# oracle replays the anchor rule, segment slicing, and hash rollup.
# ---------------------------------------------------------------------------

_CDC_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_OFFSET}, 'XYZSHIFT ' || text FROM documents
),
anch AS (
  SELECT doc_id, text,
         LIST_FILTER(RANGE(8, GREATEST(LENGTH(text), 8) + 1),
           p -> p <= LENGTH(text)
            AND CAST(('0x' || SUBSTR(md5(SUBSTR(text, CAST(p - 7 AS INT), 8)), 1, 15))
                AS BIGINT) % 64 = 0) AS a
  FROM corpus
),
seg AS (
  SELECT doc_id, text,
         [1] || LIST_TRANSFORM(a, x -> x + 1) AS starts,
         a || [CAST(LENGTH(text) AS BIGINT)] AS ends
  FROM anch
),
ex AS (
  SELECT doc_id,
         SUBSTR(text, CAST(starts[CAST(i AS INT)] AS INT),
                CAST(ends[CAST(i AS INT)] - starts[CAST(i AS INT)] + 1 AS INT)) AS s
  FROM seg, UNNEST(RANGE(1, LEN(starts) + 1)) AS u(i)
)
SELECT md5(s) AS seg_md5,
       CAST(COUNT(*) AS BIGINT) AS n_sites,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(MAX(LENGTH(s)) AS INT) AS seg_len
FROM ex WHERE s != ''
GROUP BY 1 HAVING COUNT(*) > 1
"""


@register("cdc_chunk_dedup_shifted", _CDC_SQL)
def cdc_chunk_dedup_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-store dedup over prefix-shifted copies
    (operators/cdc.cdc_chunk_dedup).

    Content-defined boundaries re-align one k-gram window after the
    planted 9-char insertion, so nearly every original segment dedups
    against its shifted twin — the insertion-robustness fixed-width
    chunking cannot deliver. Per-doc anchor scan is pure JVM HOF
    hashing; the only shuffle is the final segment-hash rollup.
    """
    from ccgp_data_wrangling_spark.operators.cdc import cdc_chunk_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select(
        (F.col("doc_id") + _OFFSET).alias("doc_id"),
        F.concat(F.lit("XYZSHIFT "), F.col("text")).alias("text"),
    )
    corpus = docs.unionByName(shifted)
    out = cdc_chunk_dedup(corpus, "doc_id", "text", k=8, divisor=64)
    return out.select(
        "seg_md5",
        "n_sites",
        "n_docs",
        F.col("seg_len").cast("int").alias("seg_len"),
    )


# ---------------------------------------------------------------------------
# REAL media decode through the driver gate: synthesize valid PCM WAV
# payloads per event (wave module, inside the Arrow batch), decode
# them with the real stdlib kernel (operators/media_codecs.decode_wav
# via multimodal.extract_real_features), and check the features
# against their closed-form values. Constant-amplitude dyadic samples
# (m/64) make rms/peak EXACT at 6 dp in both engines.
# ---------------------------------------------------------------------------

_WAV_SQL = """
SELECT event_id AS id,
       'audio' AS kind,
       CAST(8000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS n_channels,
       ROUND(((event_id % 50) + 10) / 8000.0, 6) AS duration_sec,
       ROUND((event_id % 50) / 64.0, 6) AS rms,
       ROUND((event_id % 50) / 64.0, 6) AS peak
FROM events WHERE event_id % 20 = 0
"""


@register("multimodal_wav_real_decode", _WAV_SQL)
def multimodal_wav_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV decode end-to-end: synth payload → stdlib kernel →
    features, driver-checked against closed-form values.

    This is NOT the fake-decoder path: the bytes are genuine RIFF/PCM
    produced by ``wave`` and parsed back by
    operators/media_codecs.decode_wav (frombuffer → float → rms/peak).
    Arrow batches carry the payloads; no Python touches rows outside
    the fused mapInPandas stage.
    """
    import io
    import wave
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.multimodal import (
        extract_real_features,
    )

    # repartition BEFORE the Python stages: the filtered scan is one
    # task on a compact events file, which would serialize the synth +
    # decode mapInPandas work; the shuffle moves only the id column
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 0
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                n = int(eid % 50) + 10
                byte = 128 + 2 * int(eid % 50)
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(1)
                    wf.setframerate(8000)
                    wf.writeframes(bytes([byte]) * n)
                payloads.append(buf.getvalue())
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "audio/wav",
                }
            )

    # fused: synthesis + decode share ONE Arrow stage, so payload
    # bytes never cross the JVM boundary between them (guide §4.1)
    feats = extract_real_features(ev, pre=synth)
    return feats.select(
        "id", "kind", "sample_rate", "n_channels",
        "duration_sec", "rms", "peak",
    )


# ---------------------------------------------------------------------------
# Real netpbm (P5) decode through the driver gate — valid headers
# (with a comment line, exercising the tokenizer) + constant-luma
# pixel planes whose features have closed forms.
# ---------------------------------------------------------------------------

_PGM_SQL = """
SELECT event_id AS id,
       'image' AS kind,
       CAST((event_id % 5) + 2 AS INT) AS width,
       CAST((event_id % 7) + 2 AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       ROUND(CAST((event_id % 200) + 10 AS DOUBLE), 4) AS luma_mean
FROM events WHERE event_id % 20 = 1
"""


@register("multimodal_pgm_real_decode", _PGM_SQL)
def multimodal_pgm_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real P5 image decode end-to-end (media_codecs._parse_netpbm):
    header tokenizing (incl. comment lines), raster parse, channel
    means — driver-checked against the construction's closed form.
    """
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.multimodal import (
        extract_real_features,
    )

    # repartition BEFORE the Python stages: the filtered scan is one
    # task on a compact events file, which would serialize the synth +
    # decode mapInPandas work; the shuffle moves only the id column
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 1
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                w = int(eid % 5) + 2
                h = int(eid % 7) + 2
                v = int(eid % 200) + 10
                header = f"P5\n# synthetic {eid}\n{w} {h}\n255\n".encode()
                payloads.append(header + bytes([v]) * (w * h))
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "image/pgm",
                }
            )

    # fused: synthesis + decode share ONE Arrow stage, so payload
    # bytes never cross the JVM boundary between them (guide §4.1)
    feats = extract_real_features(ev, pre=synth)
    return feats.select(
        "id", "kind", "width", "height", "n_channels", "luma_mean"
    )


# ---------------------------------------------------------------------------
# Real GIF87a/89a decode through the driver gate — the third real
# codec (after WAV and netpbm). Payloads are genuine single-frame
# GIF89a streams from the fixture encoder (media_codecs.encode_gif:
# global color table + variable-width LZW with periodic CLEAR), with
# interlacing on alternate rows to exercise the deinterlace pass; the
# kernel reassembles sub-blocks, runs the real LZW decoder, maps the
# color table, and reports channel stats.
#
# Closed-form oracle: pixels are constant per channel except red,
# which increases by 1 per image row, so mean(red) = base_r + (h-1)/2
# exactly (integer sums / exact dyadic division), and luma has at
# most 4 true decimal digits — ROUND(.,4) never sits on a rounding
# boundary, so Python round vs DuckDB ROUND cannot disagree.
# ---------------------------------------------------------------------------

_GIF_SQL = """
SELECT event_id AS id,
       'image' AS kind,
       CAST((event_id % 5) + 2 AS INT) AS width,
       CAST((event_id % 7) + 2 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       ROUND(
         0.299 * ((event_id % 150) + 20 + ((event_id % 7) + 1) / 2.0)
         + 0.587 * ((event_id % 90) + 40)
         + 0.114 * ((event_id % 60) + 50), 4) AS luma_mean
FROM events WHERE event_id % 20 = 2
"""


@register("multimodal_gif_real_decode", _GIF_SQL)
def multimodal_gif_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real GIF decode end-to-end: encode_gif fixture payloads →
    sub-block reassembly → variable-width LZW (CLEAR/EOI, KwKwK) →
    color-table mapping → channel means, driver-checked against the
    construction's closed form (operators/media_codecs.decode_gif).

    Alternate rows are interlaced (GIF four-pass row order), so the
    deinterlace path runs inside the gate too. Arrow batches carry
    payloads; Python touches rows only inside the fused mapInPandas
    stage — the synthesizer and the decode kernel together.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import encode_gif
    from ccgp_data_wrangling_spark.operators.multimodal import (
        extract_real_features,
    )

    # repartition BEFORE the Python stages: the filtered scan is one
    # task on a compact events file, which would serialize the synth +
    # decode mapInPandas work; the shuffle moves only the id column
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 2
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                w = int(eid % 5) + 2
                h = int(eid % 7) + 2
                base_r = int(eid % 150) + 20
                g = int(eid % 90) + 40
                b = int(eid % 60) + 50
                px = np.zeros((h, w, 3), np.uint8)
                px[:, :, 0] = (base_r + np.arange(h))[:, None]
                px[:, :, 1] = g
                px[:, :, 2] = b
                payloads.append(encode_gif(px, interlace=bool(eid % 2)))
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "image/gif",
                }
            )

    # fused: synthesis + decode share ONE Arrow stage, so payload
    # bytes never cross the JVM boundary between them (guide §4.1)
    feats = extract_real_features(ev, pre=synth)
    return feats.select(
        "id", "kind", "width", "height", "n_channels", "luma_mean"
    )


# ---------------------------------------------------------------------------
# TF-IDF sparse cosine near-dup: exact-integer weights, inverted-
# index dot products. Oracle replays idf scaling, integer sums, and
# the final sqrt/divide at 4 dp.
# ---------------------------------------------------------------------------

_TFIDF_COS_SQL = r"""
WITH tf AS (
  SELECT doc_id AS id, w AS t, COUNT(*) AS tf
  FROM (SELECT doc_id, UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+')) AS w
        FROM documents)
  GROUP BY 1, 2
),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY 1),
weights AS (
  SELECT tf.id, tf.t,
         tf.tf * CAST(ROUND((LN((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0) * 1000, 0) AS BIGINT) AS w_s
  FROM tf JOIN dfreq USING (t) CROSS JOIN n
  WHERE dfreq.df <= 10000
),
norms AS (SELECT id, SUM(w_s * w_s) AS norm_sq_s FROM weights GROUP BY 1),
dots AS (
  SELECT a.id AS id_a, b.id AS id_b, SUM(a.w_s * b.w_s) AS dot_s
  FROM weights a JOIN weights b ON a.t = b.t AND a.id < b.id
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b,
       ROUND(d.dot_s / (SQRT(na.norm_sq_s) * SQRT(nb.norm_sq_s)), 4) AS cos_sim
FROM dots d
JOIN norms na ON na.id = d.id_a
JOIN norms nb ON nb.id = d.id_b
WHERE ROUND(d.dot_s / (SQRT(na.norm_sq_s) * SQRT(nb.norm_sq_s)), 4) >= 0.9
"""


@register("tfidf_cosine_neardup", _TFIDF_COS_SQL)
def tfidf_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with TF-IDF cosine ≥ 0.9
    (operators/dedup.tfidf_cosine_pairs) — the weighted similarity
    family: rare terms dominate, boilerplate overlap stops matching.
    Exact-integer weight arithmetic end-to-end; only the final
    sqrt/divide is floating point, rounded 4 dp.
    """
    from ccgp_data_wrangling_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_cosine_pairs(docs, "doc_id", "text", threshold=0.9)


# ---------------------------------------------------------------------------
# Real baseline-JPEG decode through the driver gate — the fourth real
# codec (WAV, netpbm, GIF, now JPEG). Payloads are conformant SOF0
# streams from the fixture encoder (media_codecs.encode_jpeg: custom
# DQT/DHT, canonical Huffman, byte-stuffed entropy data); the kernel
# re-parses the tables, Huffman-decodes every block, dequantizes,
# runs the 8x8 IDCT, and reports features.
#
# Closed-form oracle: images are flat 8x8 tiles with value
# base + 8*ty + 4*tx. Under the all-ones quantization table a flat
# tile has ONLY a DC coefficient, which quantizes losslessly, so
# decode is bit-exact and the mean is the exact tile-value mean:
# base + 4*(n_tile_rows-1) + 2*(n_tile_cols-1) — integer or .5/.0
# dyadic, so ROUND(.,4) can never disagree between engines.
# ---------------------------------------------------------------------------

_JPEG_SQL = """
SELECT event_id AS id,
       'image' AS kind,
       CAST(8 * ((event_id % 3) + 1) AS INT) AS width,
       CAST(8 * ((event_id % 4) + 1) AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       ROUND(CAST((event_id % 180) + 20
                  + 4.0 * (event_id % 4)
                  + 2.0 * (event_id % 3) AS DOUBLE), 4) AS luma_mean
FROM events WHERE event_id % 20 = 3
"""


@register("multimodal_jpeg_real_decode", _JPEG_SQL)
def multimodal_jpeg_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline JPEG decode end-to-end: encode_jpeg fixture
    payloads → marker/DQT/DHT parse → canonical-Huffman entropy decode
    (with DC prediction across blocks) → dequant → IDCT → features,
    driver-checked against the construction's closed form
    (operators/media_codecs.decode_jpeg). Alternate images set a
    restart interval so the DRI/RSTn reset path runs inside the gate
    too. Arrow batches carry payloads; Python touches rows only inside
    the fused mapInPandas stage — synthesizer and kernel together.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import encode_jpeg
    from ccgp_data_wrangling_spark.operators.multimodal import (
        extract_real_features,
    )

    # repartition BEFORE the Python stages: the filtered scan is one
    # task on a compact events file, which would serialize the synth +
    # decode mapInPandas work; the shuffle moves only the id column
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 3
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                ntx = int(eid % 3) + 1
                nty = int(eid % 4) + 1
                base = int(eid % 180) + 20
                px = np.zeros((8 * nty, 8 * ntx), np.uint8)
                for ty in range(nty):
                    for tx in range(ntx):
                        px[8 * ty : 8 * ty + 8, 8 * tx : 8 * tx + 8] = (
                            base + 8 * ty + 4 * tx
                        )
                payloads.append(
                    encode_jpeg(px, restart_interval=int(eid % 2))
                )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "image/jpeg",
                }
            )

    # fused: synthesis + decode share ONE Arrow stage, so payload
    # bytes never cross the JVM boundary between them (guide §4.1)
    feats = extract_real_features(ev, pre=synth)
    return feats.select(
        "id", "kind", "width", "height", "n_channels", "luma_mean"
    )


# ---------------------------------------------------------------------------
# PROGRESSIVE JPEG (SOF2) decode through the driver gate — the
# dominant variant in real crawled corpora. Payloads come from the
# progressive fixture encoder (spectral-selection bands + successive
# approximation, per-eid scan scripts), so the gate runs the full
# G.2 machinery: interleaved DC first/refine scans, AC first scans
# with EOB runs and ZRL, AC refinement with correction bits.
#
# Closed-form oracle: each 8x8 tile is c ± d where the ± follows the
# u=4 DCT basis sign pattern along rows ([+,-,-,+,+,-,-,+]) — the
# tile's DCT is EXACTLY two integer coefficients (DC = 8(c-128),
# (4,0) = 8d), so the all-ones quantizer is lossless, reconstruction
# is integer-exact, and the stripe cancels out of the mean: luma_mean
# is the same closed form as the baseline JPEG gate. The nonzero AC
# coefficient sits at zigzag index 10, deliberately PAST the default
# spectral split, so both AC bands carry real work.
# ---------------------------------------------------------------------------


@register("multimodal_jpeg_progressive_decode", _JPEG_SQL.replace(
    "event_id % 20 = 3", "event_id % 20 = 7"))
def multimodal_jpeg_progressive_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Progressive JPEG decode end-to-end: encode_jpeg_progressive
    fixture payloads (per-eid dc_al/ac_al/split so successive-
    approximation depths and band splits vary inside one run) →
    multi-scan coefficient accumulation → dequant → vectorized IDCT →
    features, driver-checked against the striped-tile closed form
    (operators/media_codecs.encode_jpeg_progressive docstring has the
    bit discipline). Same fused single-Arrow-stage shape as the baseline gate.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        encode_jpeg_progressive,
    )
    from ccgp_data_wrangling_spark.operators.multimodal import (
        extract_real_features,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 7
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    stripe = np.array([1, -1, -1, 1, 1, -1, -1, 1], dtype=np.int64)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                ntx = int(eid % 3) + 1
                nty = int(eid % 4) + 1
                base = int(eid % 180) + 20
                d = int(eid % 5)
                px = np.zeros((8 * nty, 8 * ntx), np.int64)
                for ty in range(nty):
                    for tx in range(ntx):
                        c = base + 8 * ty + 4 * tx
                        px[8 * ty : 8 * ty + 8, 8 * tx : 8 * tx + 8] = (
                            c + d * stripe[:, None]
                        )
                payloads.append(
                    encode_jpeg_progressive(
                        px.astype(np.uint8),
                        dc_al=1 + int(eid % 2),
                        ac_al=1 + int(eid % 3),
                        split=(5, 1, 20)[int(eid % 3)],
                    )
                )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "image/jpeg",
                }
            )

    # fused: synthesis + decode share ONE Arrow stage, so payload
    # bytes never cross the JVM boundary between them (guide §4.1)
    feats = extract_real_features(ev, pre=synth)
    return feats.select(
        "id", "kind", "width", "height", "n_channels", "luma_mean"
    )


# ---------------------------------------------------------------------------
# Real PNG decode through the driver gate — the fifth real codec.
# Payloads are conformant PNG streams from the fixture encoder
# (media_codecs.encode_png: zlib IDAT, scanlines cycling ALL FIVE
# filter types), so the kernel's inflate + unfilter paths
# (None/Sub/Up/Average/Paeth) all run inside the gate. PNG is
# lossless, so the oracle is the exact source construction: red rises
# 1/row, green/blue flat — same closed form as the GIF gate.
# ---------------------------------------------------------------------------

_PNG_SQL = """
SELECT event_id AS id,
       'image' AS kind,
       CAST((event_id % 5) + 2 AS INT) AS width,
       CAST((event_id % 7) + 2 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       ROUND(
         0.299 * ((event_id % 150) + 20 + ((event_id % 7) + 1) / 2.0)
         + 0.587 * ((event_id % 90) + 40)
         + 0.114 * ((event_id % 60) + 50), 4) AS luma_mean
FROM events WHERE event_id % 20 = 4
"""


@register("multimodal_png_real_decode", _PNG_SQL)
def multimodal_png_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real PNG decode end-to-end: encode_png fixture payloads →
    chunk walk → zlib inflate → per-scanline unfilter (all five
    filter types cycle by row; alternate images Adam7-interlaced, so
    the seven-pass reassembly runs too) → channel means, checked
    against the construction's closed form (media_codecs.decode_png).
    Arrow batches carry payloads; Python touches rows only inside the
    fused mapInPandas stage — synthesizer and kernel together.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import encode_png
    from ccgp_data_wrangling_spark.operators.multimodal import (
        extract_real_features,
    )

    # repartition BEFORE the Python stages: the filtered scan is one
    # task on a compact events file, which would serialize the synth +
    # decode mapInPandas work; the shuffle moves only the id column
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 4
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                w = int(eid % 5) + 2
                h = int(eid % 7) + 2
                base_r = int(eid % 150) + 20
                g = int(eid % 90) + 40
                b = int(eid % 60) + 50
                px = np.zeros((h, w, 3), np.uint8)
                px[:, :, 0] = (base_r + np.arange(h))[:, None]
                px[:, :, 1] = g
                px[:, :, 2] = b
                # alternate images are Adam7-interlaced, so the
                # seven-pass reassembly runs inside the gate too
                payloads.append(encode_png(px, interlace=bool(eid % 2)))
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "image/png",
                }
            )

    # fused: synthesis + decode share ONE Arrow stage, so payload
    # bytes never cross the JVM boundary between them (guide §4.1)
    feats = extract_real_features(ev, pre=synth)
    return feats.select(
        "id", "kind", "width", "height", "n_channels", "luma_mean"
    )


# ---------------------------------------------------------------------------
# Real FFT spectral features through the driver gate: square-wave PCM
# payloads (half-period m samples, c full cycles at 8 kHz) make every
# reported feature a CLOSED FORM — zero crossings = 2c − 1 (one sign
# flip per half-period after the first), dominant FFT bin = the
# fundamental (square-wave harmonics decay 1/k and the period divides
# the sample count, so energy sits exactly on harmonic bins) at
# 8000/(2m) Hz, and |x| is constant so rms = peak = a/32768 exactly
# (a is a multiple of 256 → dyadic at 6 dp).
# ---------------------------------------------------------------------------

_SPECTRAL_SQL = """
SELECT event_id AS id,
       'audio' AS kind,
       CAST(8000 AS INT) AS sample_rate,
       CAST(2 * ((event_id % 9) + 2) * ((event_id % 20) + 10) AS INT) AS n_samples,
       CAST(2 * ((event_id % 20) + 10) - 1 AS INT) AS zero_crossings,
       ROUND(8000.0 / (2 * ((event_id % 9) + 2)), 4) AS dominant_freq_hz,
       ROUND(((event_id % 40) + 20) * 512 / 32768.0, 6) AS rms,
       ROUND(((event_id % 40) + 20) * 512 / 32768.0, 6) AS peak
FROM events WHERE event_id % 20 = 5
"""


@register("multimodal_wav_spectral", _SPECTRAL_SQL)
def multimodal_wav_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real DSP end-to-end: synth square-wave PCM → numpy rFFT bin
    argmax + sign-change count (media_codecs.wav_spectral_features via
    multimodal.audio_spectral_features), driver-checked against the
    construction's closed forms. Arrow batches carry payloads; Python
    touches rows only inside the fused mapInPandas stage."""
    import io
    import wave
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.multimodal import (
        audio_spectral_features,
    )

    # repartition BEFORE the Python stages: the filtered scan is one
    # task on a compact events file, which would serialize the synth +
    # decode mapInPandas work; the shuffle moves only the id column
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 5
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                half = int(eid % 9) + 2
                cycles = int(eid % 20) + 10
                a = (int(eid % 40) + 20) * 512
                pattern = np.concatenate(
                    [np.full(half, a), np.full(half, -a)]
                )
                x = np.tile(pattern, cycles).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(x.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    # fused: one Arrow stage — payloads stay inside the Python worker
    return audio_spectral_features(ev, pre=synth).select(
        "id", "kind", "sample_rate", "n_samples",
        "zero_crossings", "dominant_freq_hz", "rms", "peak",
    )


# ---------------------------------------------------------------------------
# Perceptual-hash image dedup through the driver gate: PGM payloads
# whose pixel content depends ONLY on event_id % 30 (30 deterministic
# gradient/moire patterns), so images of the same class are
# pixel-identical and share a pHash. The filter event_id % 20 = 7
# reaches only classes 7, 17 and 27 (the values event_id % 30 can
# then take); all 30 class hashes are pairwise distinct (asserted by
# test_media_codecs — a kernel change that collides classes fails
# there first). Duplicate groups are therefore a pure closed form of
# event_id arithmetic: rep = min id of the class, size = class count.
# ---------------------------------------------------------------------------

_PHASH_SQL = """
SELECT event_id AS id,
       MIN(event_id) OVER (PARTITION BY event_id % 30) AS rep_id,
       CAST(COUNT(*) OVER (PARTITION BY event_id % 30) AS BIGINT) AS group_size
FROM events WHERE event_id % 20 = 7
"""


@register("image_phash_dedup", _PHASH_SQL)
def image_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup by DCT perceptual hash (media_codecs.phash64): synth
    PGM payloads → 32×32 resize + 2-D DCT + median-threshold 63-bit
    fingerprint per image → per-hash duplicate groups (rep = min id).
    The scale shape for exact-pHash dedup is a plain hash groupBy on
    the 8-byte fingerprint — byte-level hashing can't group re-encoded
    images, pHash can (JPEG round-trip invariance unit-tested)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        phash_for_payload,
    )

    # repartition BEFORE the Python stages (see the other gate queries)
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 7
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                c = int(eid % 30)
                i, j = np.mgrid[0:16, 0:16]
                px = (
                    (c * 7 + i * 3 + j * 5 + (i * j * (c % 5)) // 3) % 256
                ).astype(np.uint8)
                payloads.append(b"P5\n16 16\n255\n" + px.tobytes())
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def hash_op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "ph": [
                        phash_for_payload(bytes(p), "image/pgm")
                        for p in pdf["payload"]
                    ],
                }
            )

    hashed = ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: hash_op(synth(it)), schema="id long, ph long")
    w = W.partitionBy("ph")
    return hashed.select(
        "id",
        F.min("id").over(w).alias("rep_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Hamming near-dup join over 60-bit fingerprints: md5-derived base
# fingerprints (the engine's oracle-parity uniform hash) + planted
# twins with 1-3 deterministically flipped bits. The operator finds
# pairs via pigeonhole banding (8x8-bit bands — complete for
# max_hamming 3 < 8 bands); the oracle is the INDEPENDENT brute-force
# all-pairs bit_count(xor) <= 3, so it checks completeness rather
# than replaying the banding construction.
# ---------------------------------------------------------------------------

_HAMMING_SQL = f"""
WITH base AS (
  SELECT event_id AS id,
         {_DUCK_HASH.format(v="'fp:' || CAST(event_id AS VARCHAR)")} AS bits
  FROM events WHERE event_id % 20 = 8
),
tw1 AS (
  SELECT id + 10000000 AS id, xor(bits, 1::BIGINT << CAST(id % 60 AS INT)) AS bits,
         id AS src
  FROM base WHERE id % 3 = 0
),
tw2 AS (
  SELECT id,
         CASE WHEN src % 4 >= 1
              THEN xor(bits, 1::BIGINT << CAST((src + 13) % 60 AS INT))
              ELSE bits END AS bits,
         src
  FROM tw1
),
tw3 AS (
  SELECT id,
         CASE WHEN src % 4 >= 2
              THEN xor(bits, 1::BIGINT << CAST((src + 26) % 60 AS INT))
              ELSE bits END AS bits
  FROM tw2
),
fp AS (SELECT id, bits FROM base UNION ALL SELECT id, bits FROM tw3)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.bits, b.bits)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.id < b.id
WHERE bit_count(xor(a.bits, b.bits)) <= 3
"""


@register("fingerprint_hamming_neardup", _HAMMING_SQL)
def fingerprint_hamming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint pairs within Hamming distance 3
    (operators/dedup.hamming_neardup_pairs): pigeonhole banding makes
    candidates an ids-only equi-join on (band, value); the brute-force
    oracle independently verifies banding completeness. This is the
    near-dup layer pHash/simhash fingerprints plug into."""
    from ccgp_data_wrangling_spark.operators.dedup import (
        hamming_neardup_pairs,
    )
    from ccgp_data_wrangling_spark.operators.sketches import _element_hash

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 8
    ).select(F.col("event_id").alias("id"))
    base = ev.select(
        "id",
        _element_hash(
            F.concat(F.lit("fp:"), F.col("id").cast("string"))
        ).alias("bits"),
    )
    shift = lambda off: F.expr(
        f"shiftleft(CAST(1 AS BIGINT), CAST((id + {off}) % 60 AS INT))"
    )
    tw = base.where(F.col("id") % 3 == 0).select(
        (F.col("id") + 10_000_000).alias("id"),
        F.when(
            F.col("id") % 4 >= 2,
            F.col("bits").bitwiseXOR(shift(0)).bitwiseXOR(shift(13)).bitwiseXOR(shift(26)),
        )
        .when(
            F.col("id") % 4 >= 1,
            F.col("bits").bitwiseXOR(shift(0)).bitwiseXOR(shift(13)),
        )
        .otherwise(F.col("bits").bitwiseXOR(shift(0)))
        .alias("bits"),
    )
    fp = base.unionByName(tw)
    return hamming_neardup_pairs(
        fp, "id", "bits", max_hamming=3
    )


# ---------------------------------------------------------------------------
# pHash near-dup dedup at corpus scale — the full keep/drop chain:
# REAL DCT perceptual hashes (media_codecs.phash64 over synthesized
# images) → pigeonhole Hamming candidate join (max_hamming 3 < 8
# bands, provably complete) → connected components → canonical-min
# keep rule (operators/components.neardup_clusters' policy).
#
# Closed-form oracle: ten pattern classes whose pHashes are pairwise
# ≥ 20 bits apart IN EXACT ARITHMETIC (regression-guarded in
# test_media_codecs); per class the rows are a base image, a 2×
# nearest-upscale (pHash-invariant, bit-identical), and arithmetic
# "re-encode drift" twins at XOR distance 1-3. Intra-class rows all
# sit ≤ 3 bits from the base hash → one component; cross-class pairs
# are ≥ 20−3−3 = 14 bits apart → never candidates. So the clusters
# are exactly the classes, and the keep set is the min id per class —
# pure event_id arithmetic for DuckDB, while the Spark side computes
# every fingerprint from real pixel decodes.
# ---------------------------------------------------------------------------

#: pattern classes c of 7c + 3i + 5j + ⌊ij·(c mod 5)/3⌋ (16×16, mod 256)
#: chosen from a 50-digit evaluation of phash64's DCT: in every class
#: each AC coefficient but the median itself sits ≥ 0.26 from the
#: median (rounding noise is ~1e-13), so no platform's rounding moves
#: a bit, and the exact hashes are pairwise ≥ 20 bits apart. Brightness
#: twins (0/5/10/15, 1/6) and classes with a coefficient on the median
#: (7) are left out: their separating bits are rounding, not content.
_PHASH_ND_CLASSES = [2, 3, 4, 9, 12, 14, 22, 26, 27, 28]

_PHASH_ND_SQL = """
SELECT event_id AS id,
       MIN(event_id) OVER (PARTITION BY (event_id - 9) // 20 % 10) AS cluster_id,
       event_id = MIN(event_id) OVER (PARTITION BY (event_id - 9) // 20 % 10) AS keep
FROM events WHERE event_id % 20 = 9
"""


@register("image_phash_neardup_dedup", _PHASH_ND_SQL)
def image_phash_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pHash near-duplicate IMAGE dedup end-to-end: real perceptual
    hashes, EXACT-DUPLICATE COLLAPSE, banded Hamming join (ids-only
    candidates, one bit_count(xor) verify), alternating-algorithm
    components, keep = canonical minimum — the image twin of the text
    dedup families' keep/drop shape.

    The collapse is the load-bearing scale stage: bit-identical
    fingerprints (here every upscale twin; in a real corpus every
    re-post of the same image) form CLIQUES under a pairwise near-dup
    join — m identical hashes are m²/2 true pairs, and the r8 scaling
    sweep measured exactly that as an executor OOM at the 10× decade
    (~55 M pairs feeding connected components). Dedup only needs
    connectivity, not the clique: one groupBy(fp) picks the min-id
    representative per distinct hash, the banded join runs over
    DISTINCT fingerprints only, and members rejoin through their
    representative — m² edges become m star edges, and the min-per-fp
    representative keeps the canonical-min cluster id bit-identical
    to the uncollapsed answer. Every other stage is the scale-safe
    form its operator docstring proves (hash groupBy, pigeonhole
    bands, star contraction)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.components import (
        neardup_clusters,
    )
    from ccgp_data_wrangling_spark.operators.dedup import (
        hamming_neardup_pairs,
    )
    from ccgp_data_wrangling_spark.operators.media_codecs import phash64

    classes = _PHASH_ND_CLASSES

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 9
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i, j = np.mgrid[0:16, 0:16]
        for pdf in batches:
            fps = []
            for eid in pdf["id"]:
                g = int(eid) // 20
                c = classes[g % 10]
                role = g % 3
                px = (
                    (c * 7 + i * 3 + j * 5 + (i * j * (c % 5)) // 3) % 256
                ).astype(np.uint8)
                if role == 1:  # nearest-neighbor 2x upscale: hash-invariant
                    px = np.repeat(np.repeat(px, 2, 0), 2, 1)
                h = phash64(px)
                if role == 2:  # re-encode drift: 1-3 flipped bits
                    k = int(eid) % 3 + 1
                    pos = {int(eid) * m % 63 for m in (7, 11, 13)}
                    for p in sorted(pos)[:k]:
                        h ^= 1 << p
                fps.append(h)
            yield pd.DataFrame({"id": pdf["id"].values, "fp": fps})

    fps = ev.mapInPandas(kernel, schema="id long, fp long")
    reps = fps.groupBy("fp").agg(F.min("id").alias("rid"))
    pairs = hamming_neardup_pairs(
        reps.select(F.col("rid").alias("id"), "fp"),
        "id", "fp", max_hamming=3,
    )
    rep_clus = neardup_clusters(pairs).select(
        F.col("doc_id").alias("rid"), "cluster_id"
    )
    # min cluster member over representatives == min over ALL members,
    # because each representative is already the min of its hash group
    cid = F.coalesce(F.col("cluster_id"), F.col("rid"))
    return (
        fps.join(reps, "fp")
        .join(rep_clus, "rid", "left")
        .select(
            "id",
            cid.alias("cluster_id"),
            (F.col("id") == cid).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# 16-bit PNG decode through the driver gate: same chunk/inflate/
# unfilter machinery as the 8-bit gate but with big-endian sample
# pairs and the bytes-per-pixel filter distance — the high-bit-depth
# variant scientific/archival corpora carry. Lossless, so the oracle
# is the exact 16-bit source construction (red 16-bit gradient,
# green/blue flat, all scaled by 257 into the 16-bit range).
# ---------------------------------------------------------------------------

_PNG16_SQL = """
SELECT event_id AS id,
       'image' AS kind,
       CAST((event_id % 5) + 2 AS INT) AS width,
       CAST((event_id % 7) + 2 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       ROUND(
         0.299 * (((event_id % 150) + 20) * 257 + 1000.0 * ((event_id % 7) + 1) / 2.0)
         + 0.587 * (((event_id % 90) + 40) * 257)
         + 0.114 * (((event_id % 60) + 50) * 257), 4) AS luma_mean
FROM events WHERE event_id % 20 = 11
"""


@register("multimodal_png16_decode", _PNG16_SQL)
def multimodal_png16_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-16 PNG decode end-to-end: uint16 fixture payloads (all
    five filters cycling, alternate images Adam7-interlaced) →
    big-endian pair reassembly → channel means in native 16-bit
    units, driver-checked against the construction's closed form.
    Same fused single-Arrow-stage shape as the other media gates."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import encode_png
    from ccgp_data_wrangling_spark.operators.multimodal import (
        extract_real_features,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 11
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                w = int(eid % 5) + 2
                h = int(eid % 7) + 2
                base_r = (int(eid % 150) + 20) * 257
                g = (int(eid % 90) + 40) * 257
                b = (int(eid % 60) + 50) * 257
                px = np.zeros((h, w, 3), np.uint16)
                px[:, :, 0] = (base_r + 1000 * np.arange(h))[:, None]
                px[:, :, 1] = g
                px[:, :, 2] = b
                payloads.append(encode_png(px, interlace=bool(eid % 2)))
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "payload": payloads,
                    "media_type": "image/png",
                }
            )

    # fused: synthesis + decode share ONE Arrow stage, so payload
    # bytes never cross the JVM boundary between them (guide §4.1)
    feats = extract_real_features(ev, pre=synth)
    return feats.select(
        "id", "kind", "width", "height", "n_channels", "luma_mean"
    )


# ---------------------------------------------------------------------------
# PII redaction through the driver gate: documents are laced with
# constructed emails / phones / IPs / SSNs (presence keyed on doc_id
# arithmetic); the engine runs the real regexp_count/regexp_replace
# chain (operators/privacy.pii_redact) while the oracle builds the
# EXPECTED redacted string and counts directly from the construction
# — an independent check that the regex layer matches exactly what it
# should and nothing else. The natural-text prefix is stripped of
# digits and '@' so no accidental pattern can fire outside the plant.
# ---------------------------------------------------------------------------

_PII_SQL = """
SELECT doc_id,
       1 AS n_email,
       CAST(doc_id % 5 = 2 AS INT) AS n_ssn,
       CAST(doc_id % 3 = 0 AS INT) AS n_phone,
       CAST(doc_id % 4 = 1 AS INT) AS n_ip,
       regexp_replace(substr(text, 1, 30), '[0-9@]', '', 'g')
         || ' mail [EMAIL]'
         || CASE WHEN doc_id % 3 = 0 THEN ' tel [PHONE]' ELSE '' END
         || CASE WHEN doc_id % 4 = 1 THEN ' host [IP]' ELSE '' END
         || CASE WHEN doc_id % 5 = 2 THEN ' id [SSN]' ELSE '' END
         AS redacted
FROM documents
"""


@register("pii_redaction_stats", _PII_SQL)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub end-to-end: lace each document with constructed PII,
    run the chained regexp_count/regexp_replace scrub
    (operators/privacy.pii_redact — pure codegen, the only form that
    holds over a full-corpus pass), return per-doc counts + redacted
    text. The oracle reconstructs the expected output without running
    any regex, so a pattern that over- or under-matches fails the
    hash."""
    from ccgp_data_wrangling_spark.operators.privacy import pii_redact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    prefix = F.regexp_replace(F.substring("text", 1, 30), "[0-9@]", "")
    laced = F.concat(
        prefix,
        F.lit(" mail "),
        F.concat(F.lit("u"), d.cast("string"), F.lit("@ex.com")),
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit(" tel 415-555-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
        F.when(
            d % 4 == 1,
            F.concat(F.lit(" host 10.0."), (d % 256).cast("string"), F.lit(".7")),
        ).otherwise(""),
        F.when(
            d % 5 == 2,
            F.concat(
                F.lit(" id 123-45-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    staged = docs.select("doc_id", laced.alias("__laced"))
    redacted, counts = pii_redact(F.col("__laced"))
    return staged.select(
        "doc_id",
        counts["n_email"].alias("n_email"),
        counts["n_ssn"].alias("n_ssn"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ip"].alias("n_ip"),
        redacted.alias("redacted"),
    )


# ---------------------------------------------------------------------------
# REAL video-style frame sampling through the driver gate, with
# animated GIF as the container (the one multi-frame format the
# stdlib codec family covers end-to-end): synth animations with
# (eid%4)+2 flat frames at 10 cs each → full LZW decode + timeline
# from the Graphic Control delays → keep one frame per 0.2 s window.
# Closed form: emitted frame indices are exactly {0, 2, 4} ∩ range(n)
# (the 0.1 s accumulation crosses each 0.2 s boundary on even
# frames), and a flat frame's luma is the BT.601 sum both engines
# evaluate in the same left-to-right float64 order.
# ---------------------------------------------------------------------------

_GIF_FRAMES_SQL = """
SELECT event_id AS id,
       CAST(k AS INT) AS frame_idx,
       ROUND(CAST(k AS DOUBLE) * 0.1, 6) AS frame_ts_sec,
       CAST(8 AS INT) AS width,
       CAST(6 AS INT) AS height,
       ROUND(0.299 * CAST((event_id % 180) + 20 + 7 * k AS DOUBLE)
           + 0.587 * CAST((event_id % 180) + 20 + 7 * k AS DOUBLE)
           + 0.114 * CAST((event_id % 180) + 20 + 7 * k AS DOUBLE), 4)
         AS luma_mean
FROM events, (VALUES (0), (2), (4)) AS t(k)
WHERE event_id % 20 = 13 AND k < (event_id % 4) + 2
"""


@register("multimodal_gif_frame_sample", _GIF_FRAMES_SQL)
def multimodal_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real frame sampling end-to-end: encode_gif_animated fixtures
    (per-frame GCE delays + local color tables) → decode_gif_frames
    compositing decode → delay-driven timeline → one frame per 0.2 s
    (operators/multimodal.sample_frames_gif). The 1→N expansion runs
    inside one Arrow pass; output is bounded by duration/every_sec,
    not frame rate."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        encode_gif_animated,
    )
    from ccgp_data_wrangling_spark.operators.multimodal import (
        sample_frames_gif,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 13
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                n = int(eid % 4) + 2
                base = int(eid % 180) + 20
                frames = [
                    np.full((6, 8, 3), base + 7 * k, np.uint8)
                    for k in range(n)
                ]
                payloads.append(
                    encode_gif_animated(frames, delays_cs=[10] * n)
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    # fused: one Arrow stage — payloads stay inside the Python worker
    return sample_frames_gif(ev, 0.2, pre=synth)


# ---------------------------------------------------------------------------
# PDF text extraction through the driver gate — the second document
# container (after WARC): conformant PDF 1.4 fixtures (Flate content
# streams, literal-string escapes, TJ kern arrays, hex strings,
# multi-page) → full object-scan + inflate + BT/ET text
# reconstruction (sources/pdf.py). Oracle rebuilds the expected text
# closed-form: segments become lines (Td positioning), TJ kerns below
# -100 become spaces — the documented reconstruction rules.
# ---------------------------------------------------------------------------

_PDF_SQL = """
WITH base AS (
  SELECT doc_id,
         'doc ' || CAST(doc_id AS VARCHAR) || ' title' || chr(10)
           || regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g')
           AS page0
  FROM documents
)
SELECT doc_id, 0 AS page, page0 AS text,
       CAST(length(page0) AS INT) AS n_chars
FROM base
UNION ALL
SELECT doc_id, 1 AS page,
       'part A' || CAST(doc_id AS VARCHAR) || chr(10)
         || 'HX' || CAST(doc_id % 7 AS VARCHAR) AS text,
       CAST(length('part A' || CAST(doc_id AS VARCHAR)) + 1
            + length('HX' || CAST(doc_id % 7 AS VARCHAR)) AS INT) AS n_chars
FROM documents WHERE doc_id % 3 = 0
"""


@register("pdf_text_extract", _PDF_SQL)
def pdf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF corpus ingest end-to-end: build_pdf fixtures carrying the
    documents table's (ASCII-cleaned) text plus TJ/hex/multi-page
    constructs → object scan → /Filter-chain decode → text-operator
    reconstruction → one row per page (sources/pdf.pdf_documents).
    The content-stream filter rotates on doc_id%5 through Flate, LZW,
    RunLength, ASCII85-wrapped Flate and ASCIIHex (§7.4) — the text
    is identical, so the oracle needs no filter variant. Escapes are
    exercised on every page via the parens/backslash the fixture
    writer must escape and the extractor must unescape."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import build_pdf

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                pages = [[f"doc {did} title", str(prefix)]]
                if did % 3 == 0:
                    pages.append(
                        [
                            ["part", -200, f"A{did}"],
                            ("hex", f"HX{int(did) % 7}"),
                        ]
                    )
                chain = (
                    ("flate",), ("lzw",), ("rl",),
                    ("a85", "flate"), ("ahx",),
                )[int(did) % 5]
                payloads.append(build_pdf(pages, filter_chain=chain))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    from ccgp_data_wrangling_spark.sources.pdf import pdf_documents

    # fused: one Arrow stage — blobs stay inside the Python worker
    return pdf_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# Embedded-image extraction from PDFs — the figure-mining layer a
# multimodal corpus pipeline needs next to text: image XObjects are
# located by /Subtype /Image, /DCTDecode payloads run through the
# from-scratch JPEG decoder, Flate raw samples through /ColorSpace
# interpretation. Fixtures are FLAT images, so every luma is a closed
# form: a flat JPEG tile carries only a DC coefficient under the
# fixture encoder's all-ones quantization table and round-trips
# exactly, and the raw-RGB luma is the same weighted integer
# arithmetic both engines evaluate identically.
# ---------------------------------------------------------------------------

_PDF_IMG_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 7
)
SELECT id,
       CAST(0 AS INT) AS idx,
       CAST(8 * ((k % 3) + 1) AS INT) AS width,
       CAST(8 * ((k % 2) + 1) AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       'jpeg' AS codec,
       ROUND(CAST(id % 200 + 20 AS DOUBLE), 4) AS luma_mean
FROM g
UNION ALL
SELECT id,
       CAST(1 AS INT) AS idx,
       CAST(7 AS INT) AS width,
       CAST(5 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       'raw' AS codec,
       ROUND(CAST(id % 256 AS DOUBLE) * 0.299
             + CAST((id + 31) % 256 AS DOUBLE) * 0.587
             + CAST((id + 62) % 256 AS DOUBLE) * 0.114, 4) AS luma_mean
FROM g WHERE k % 2 = 1
"""


@register("pdf_image_extract", _PDF_IMG_SQL)
def pdf_image_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedded-image extraction end-to-end: build_pdf fixtures with
    a caption page plus image XObjects — a flat grayscale JPEG behind
    /DCTDecode (decoded by the from-scratch JPEG kernel) and, on odd
    k, a Flate raw-RGB companion — → sources/pdf.pdf_images → one row
    per image with dimensions, channel count, carrying codec and
    luma. One fused Arrow stage; declared-vs-decoded dimension mismatches
    raise inside the kernel rather than passing corrupt bytes on."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        encode_jpeg,
    )
    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 7
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                w, h = 8 * (k % 3 + 1), 8 * (k % 2 + 1)
                gray = np.full((h, w), e % 200 + 20, np.uint8)
                imgs = [("dct", encode_jpeg(gray), w, h, 1)]
                if k % 2 == 1:
                    rgb = np.zeros((5, 7, 3), np.uint8)
                    for c in range(3):
                        rgb[:, :, c] = (e + 31 * c) % 256
                    imgs.append(("flate", rgb))
                payloads.append(
                    build_pdf(
                        [[f"figure sheet {e}"]], page_images=[imgs]
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for j, r in enumerate(pdf_images(bytes(blob))):
                    rows.append(
                        {
                            "id": rid,
                            "idx": j,
                            "width": r["width"],
                            "height": r["height"],
                            "n_channels": r["n_channels"],
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "idx", "width", "height", "n_channels",
                    "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, idx int, width int, height int, n_channels int, "
            "codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# WebDataset tar-shard ingest through the driver gate — the de-facto
# multimodal training layout: per-event tar shards of (pgm image +
# cls label + txt caption) samples → tarfile walk + first-dot key
# grouping → map<ext, binary> parts → REAL pgm decode of the image
# part. Closed form: flat 8×8 images make luma == the constructed
# value; labels/keys are event_id arithmetic.
# ---------------------------------------------------------------------------

_WDS_SQL = """
SELECT event_id AS shard_id,
       CAST(event_id AS VARCHAR) || '-' || CAST(j AS VARCHAR) AS sample_key,
       CAST(3 AS INT) AS n_parts,
       CAST((event_id + j) % 10 AS INT) AS label,
       CAST((event_id % 200) + 10 + 5 * j AS DOUBLE) AS luma_mean
FROM events, (VALUES (0), (1), (2)) AS t(j)
WHERE event_id % 20 = 17 AND j < ((event_id - 17) // 20) % 2 + 2
"""


@register("wds_shard_ingest", _WDS_SQL)
def wds_shard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset ingest end-to-end: build_wds_shard fixtures → one
    Arrow explode into samples with map<extension, binary> parts
    (sources/webdataset.wds_samples) → label parse from the cls part
    (pure casts) + real netpbm decode of the image part. The shape a
    multimodal trainer's data layer runs: shards are the parallelism
    unit, parts stay binary until a kernel needs them."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_netpbm,
    )
    from ccgp_data_wrangling_spark.sources.webdataset import (
        build_wds_shard,
        wds_sample_batches,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 17
    ).select(F.col("event_id").alias("shard_id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["shard_id"]:
                n = (int(eid) // 20) % 2 + 2
                samples = []
                for j in range(n):
                    v = int(eid % 200) + 10 + 5 * j
                    pgm = b"P5\n8 8\n255\n" + bytes([v] * 64)
                    samples.append(
                        (
                            f"{eid}-{j}",
                            {
                                "pgm": pgm,
                                "cls": str((int(eid) + j) % 10).encode(),
                                "txt": f"caption {eid} {j}".encode(),
                            },
                        )
                    )
                payloads.append(build_wds_shard(samples))
            yield pd.DataFrame(
                {"shard_id": pdf["shard_id"].values, "payload": payloads}
            )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lumas, labels = [], []
            for parts in pdf["parts"]:
                d = dict(parts)
                lumas.append(decode_netpbm(bytes(d["pgm"]))["luma_mean"])
                labels.append(int(bytes(d["cls"]).decode()))
            out = pdf[["shard_id", "sample_key", "n_parts"]].copy()
            out["label"] = pd.array(labels, dtype="int32")
            out["luma_mean"] = lumas
            yield out

    # fused: shard synthesis → tar explode → per-sample decode in ONE
    # Arrow stage; shard blobs and part maps never transit the JVM
    return ev.mapInPandas(
        lambda it: decode(wds_sample_batches(synth(it))),
        schema=(
            "shard_id long, sample_key string, n_parts int, "
            "label int, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# Audio fingerprint dedup through the driver gate — the audio twin of
# image_phash_dedup: square-wave clips whose PITCH CLASS depends only
# on (event_id//20) % 9, while amplitude, length and phase all vary
# per id. The spectral-peak fingerprint (media_codecs.
# audio_fingerprint64) is invariant to exactly those three (peak
# ranking is scale-free, frequencies not bins enter the hash,
# magnitudes ignore phase) — pinned by test — so duplicate groups are
# a pure closed form of event_id arithmetic and the dedup itself is a
# hash groupBy on 8 bytes.
# ---------------------------------------------------------------------------

_AUDIO_FP_SQL = """
SELECT event_id AS id,
       MIN(event_id) OVER (PARTITION BY (event_id - 19) // 20 % 9) AS rep_id,
       CAST(COUNT(*) OVER (PARTITION BY (event_id - 19) // 20 % 9) AS BIGINT)
         AS group_size
FROM events WHERE event_id % 20 = 19
"""


@register("audio_fingerprint_dedup", _AUDIO_FP_SQL)
def audio_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio content dedup end-to-end: synth PCM square waves (pitch
    class fixed per group; amp/length/phase vary) → rFFT peak
    constellation → 63-bit fingerprint → per-fingerprint duplicate
    groups (rep = min id). Byte-level hashing groups NONE of these
    (every payload differs); the content fingerprint groups them all."""
    from collections.abc import Iterator

    import io
    import wave

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        audio_fingerprint64,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 19
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                m = (int(eid) // 20) % 9 + 2
                cycles = 20 + int(eid % 25)
                amp = (int(eid % 40) + 10) * 500
                phase = int(eid % 13)
                pattern = np.concatenate(
                    [np.full(m, amp), np.full(m, -amp)]
                )
                x = np.roll(np.tile(pattern, cycles), phase).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(x.tobytes())
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "fp": [
                        audio_fingerprint64(bytes(p)) for p in pdf["payload"]
                    ],
                }
            )

    hashed = ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: fp(synth(it)), schema="id long, fp long")
    w = W.partitionBy("fp")
    return hashed.select(
        "id",
        F.min("id").over(w).alias("rep_id"),
        F.count(F.lit(1)).over(w).cast("long").alias("group_size"),
    )


# ---------------------------------------------------------------------------
# Multimodal curation E2E — the round-6 pieces composed the way a
# real image-text pipeline runs them: WebDataset shards → sample
# explode → REAL image decode + pHash → caption quality gate →
# perceptual dedup with the canonical-min keep rule. Image content
# class (one of the ten well-separated pHash patterns) and caption
# quality are both event_id arithmetic, so the surviving set and
# every group representative are closed-form; the engine side
# computes them from actual tar bytes and pixel decodes.
# ---------------------------------------------------------------------------

_MM_E2E_SQL = """
WITH samples AS (
  SELECT event_id * 10 + j AS sample_id,
         ((event_id - 17) // 20 + j) % 10 AS cls,
         j
  FROM events, (VALUES (0), (1), (2)) AS t(j)
  WHERE event_id % 20 = 17 AND j < ((event_id - 17) // 20) % 2 + 2
),
kept AS (SELECT * FROM samples WHERE j <> 1)
SELECT sample_id,
       MIN(sample_id) OVER (PARTITION BY cls) AS rep_id,
       sample_id = MIN(sample_id) OVER (PARTITION BY cls) AS keep
FROM kept
"""


@register("multimodal_curation_e2e", _MM_E2E_SQL)
def multimodal_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset → curation composed end-to-end: build_wds_shard
    fixtures (pattern-class pgm + caption per sample; every j==1
    caption is a one-word runt) → wds_samples tar explode → one Arrow
    kernel decoding the image part to its pHash and counting caption
    words → quality gate (≥ 2 words) → per-fingerprint dedup groups
    with the canonical-min keep rule. Ordering matters (quality gate
    BEFORE dedup — a runt canonical would otherwise swallow its
    group), which is exactly what the composed oracle checks."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        phash_for_payload,
    )
    from ccgp_data_wrangling_spark.sources.webdataset import (
        build_wds_shard,
        wds_sample_batches,
    )

    classes = _PHASH_ND_CLASSES

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 17
    ).select(F.col("event_id").alias("shard_id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        i, j_ = np.mgrid[0:16, 0:16]
        for pdf in batches:
            payloads = []
            for eid in pdf["shard_id"]:
                g = (int(eid) - 17) // 20
                n = g % 2 + 2
                samples = []
                for j in range(n):
                    c = classes[(g + j) % 10]
                    px = (
                        (c * 7 + i * 3 + j_ * 5 + (i * j_ * (c % 5)) // 3)
                        % 256
                    ).astype(np.uint8)
                    caption = "cap" if j == 1 else f"caption {eid} {j}"
                    samples.append(
                        (
                            f"{int(eid) * 10 + j:012d}",
                            {
                                "pgm": b"P5\n16 16\n255\n" + px.tobytes(),
                                "txt": caption.encode(),
                            },
                        )
                    )
                payloads.append(build_wds_shard(samples))
            yield pd.DataFrame(
                {"shard_id": pdf["shard_id"].values, "payload": payloads}
            )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sids, phs, words = [], [], []
            for key, parts in zip(pdf["sample_key"], pdf["parts"]):
                d = dict(parts)
                sids.append(int(key))
                phs.append(phash_for_payload(bytes(d["pgm"]), "image/pgm"))
                words.append(len(bytes(d["txt"]).decode().split()))
            yield pd.DataFrame(
                {"sample_id": sids, "ph": phs, "n_words": words}
            )

    # fused: shard synthesis → tar explode → per-sample features in
    # ONE Arrow stage; blobs and part maps never transit the JVM
    scored = ev.mapInPandas(
        lambda it: feats(wds_sample_batches(synth(it))),
        schema="sample_id long, ph long, n_words int",
    )
    kept = scored.where(F.col("n_words") >= 2)
    w = W.partitionBy("ph")
    rep = F.min("sample_id").over(w)
    return kept.select(
        "sample_id",
        rep.alias("rep_id"),
        (F.col("sample_id") == rep).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Audio clip-in-track search through the driver gate — the actual
# constellation MATCHING (operators/audiomatch.py), not just a
# whole-clip fingerprint: 9 synthetic tracks of 12 frames whose
# per-frame pitch class is (t*7 + i*i) % 9; clips are 6-frame
# excerpts at per-id offsets with per-id amplitudes. The quadratic
# class schedule makes the oracle PROVABLE: a pair-hash vote at
# offset d for track t' requires two consecutive frame-class
# equalities, whose difference forces 2d ≡ 0 (mod 9) and then
# Δt·7 ≡ 0 (mod 9) — with |d| ≤ 11 < 9 impossible unless
# (t', d) = (true track, true offset). Wrong candidates therefore
# get ZERO votes, the winner gets exactly W−1 = 5, and the match
# table is pure event_id arithmetic.
# ---------------------------------------------------------------------------

_AUDIO_MATCH_SQL = """
SELECT event_id AS clip_id,
       CAST(event_id % 9 AS BIGINT) AS track_id,
       CAST((event_id - 14) // 20 % 7 AS INT) AS offset,
       CAST(5 AS BIGINT) AS votes
FROM events WHERE event_id % 20 = 14
"""


def _square_frame(cls: int, amp: int, frame: int = 256):
    import numpy as np

    m = cls + 2
    pattern = np.concatenate([np.full(m, amp), np.full(m, -amp)])
    reps = -(-frame // (2 * m))
    return np.tile(pattern, reps)[:frame]


@register("audio_clip_match", _AUDIO_MATCH_SQL)
def audio_clip_match_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shazam-style retrieval end-to-end: track catalog → landmark
    pair-hash index (broadcast); clips → same hashing; hash equi-join
    → offset voting → per-clip argmax. Amplitude varies per clip and
    never moves a vote (landmarks are argmax bins). The scale story
    is the join shape: candidates come from hash equality, and the
    heaviest shuffle carries (id, frame, hash) triples only."""
    from collections.abc import Iterator

    import io
    import wave

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.audiomatch import (
        audio_clip_match,
    )

    def wav_of(frames_signal) -> bytes:
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(frames_signal.astype("<i2").tobytes())
        return buf.getvalue()

    def track_synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for t in pdf["id"]:
                sig = np.concatenate(
                    [
                        _square_frame((int(t) * 7 + i * i) % 9, 8000)
                        for i in range(12)
                    ]
                )
                payloads.append(wav_of(sig))
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    tracks = spark.range(9)

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 14
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def clip_synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                t = int(eid) % 9
                o = (int(eid) - 14) // 20 % 7
                amp = (int(eid) % 40 + 10) * 300
                sig = np.concatenate(
                    [
                        _square_frame((t * 7 + i * i) % 9, amp)
                        for i in range(o, o + 6)
                    ]
                )
                payloads.append(wav_of(sig))
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    # fused: each synthesizer shares its constellation stage's Arrow
    # pass, so WAV payloads never transit the JVM (guide §4.1)
    return audio_clip_match(
        tracks, ev, tracks_pre=track_synth, clips_pre=clip_synth
    )


# ---------------------------------------------------------------------------
# MP4 container metadata through the driver gate — the filter-before-
# decode stage of a video pipeline (duration/track/codec/dimension
# screening costs a box walk, not a decode). Payloads are conformant
# ISO-BMFF from the fixture writer; every field is event_id
# arithmetic. Codec payloads still raise honestly elsewhere — this is
# the metadata layer, and says so.
# ---------------------------------------------------------------------------

_MP4_SQL = """
SELECT event_id AS id,
       'isom' AS brand,
       ROUND(CAST((event_id % 5000) + 100 AS DOUBLE) / 1000, 4) AS duration_sec,
       CAST((event_id % 2) + 1 AS INT) AS n_tracks,
       ROUND(CAST(160 + (event_id % 8) * 80 AS DOUBLE), 2) AS width,
       ROUND(CAST(120 + (event_id % 8) * 60 AS DOUBLE), 2) AS height,
       CASE event_id % 3 WHEN 0 THEN 'avc1' WHEN 1 THEN 'hvc1'
                         ELSE 'vp09' END AS codec0
FROM events WHERE event_id % 20 = 10
"""


@register("multimodal_mp4_metadata", _MP4_SQL)
def multimodal_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real ISO-BMFF box walk end-to-end: build_mp4 fixtures (ftyp +
    moov/mvhd/trak/tkhd/stsd trees, 16.16 fixed-point dimensions,
    some ids two-track) → parse_mp4_meta → screening columns. One
    Arrow pass; the container layer is real, the codec layer raises
    honestly elsewhere."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp4,
        parse_mp4_meta,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 10
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                codec = ("avc1", "hvc1", "vp09")[int(eid) % 3]
                tracks = [
                    {
                        "width": 160 + int(eid % 8) * 80,
                        "height": 120 + int(eid % 8) * 60,
                        "codec": codec,
                    }
                ]
                if eid % 2 == 1:
                    tracks.append({"width": 0, "height": 0, "codec": "mp4a"})
                payloads.append(
                    build_mp4(
                        duration_ms=int(eid % 5000) + 100, tracks=tracks
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = parse_mp4_meta(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "brand": m["brand"],
                        "duration_sec": m["duration_sec"],
                        "n_tracks": m["n_tracks"],
                        "width": m["tracks"][0]["width"],
                        "height": m["tracks"][0]["height"],
                        "codec0": m["tracks"][0]["codecs"][0],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "brand", "duration_sec", "n_tracks",
                    "width", "height", "codec0",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, brand string, duration_sec double, n_tracks int, "
            "width double, height double, codec0 string"
        ),
    )


# ---------------------------------------------------------------------------
# MP4 sample tables through the driver gate — keyframe byte ranges
# WITHOUT a video codec (ISO 14496-12 stts/stsc/stsz/stco/stss): the
# screening layer that lets a 100 TB video pipeline fetch only
# keyframe ranges for thumbnailing/frame-sampling. Sample sizes,
# timing runs, chunking, and the sync-sample set are all event_id
# arithmetic, so the oracle replays the construction with a
# generate_series + window prefix-sum and no parser at all. The
# mdat-relative offset is the oracle-checked column (layout-
# independent closed form); absolute stco offsets are byte-verified
# against the mdat payload in tests/test_media_codecs.py.
# ---------------------------------------------------------------------------

_MP4_KEYFRAMES_SQL = """
WITH g AS (
  SELECT event_id AS id,
         event_id % 6 + 4 AS n,
         event_id // 20 AS k
  FROM events WHERE event_id % 20 = 16
),
s AS (
  SELECT id, k, UNNEST(generate_series(1, n)) AS sample FROM g
),
sz AS (
  SELECT id, k, sample,
         CAST(100 + ((sample * 37 + id) % 50) AS INT) AS size
  FROM s
)
SELECT id,
       CAST(sample AS INT) AS sample,
       ROUND((sample - 1) / 10.0, 4) AS time_sec,
       CAST(COALESCE(SUM(size) OVER (
              PARTITION BY id ORDER BY sample
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) AS BIGINT) AS mdat_offset,
       size,
       (k % 2 = 1 OR sample % 3 = 1) AS keyframe
FROM sz
"""


@register("multimodal_mp4_keyframes", _MP4_KEYFRAMES_SQL)
def multimodal_mp4_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-table expansion end-to-end: build_mp4 fixtures with real
    stts timing runs, stsc chunking (per-sample / paired / single-
    chunk, rotating on event_id // 20), stsz size tables, chunk
    offsets into a real mdat (32-bit stco on odd ids, 64-bit co64 on
    even — §8.7.5), and stss on even k (odd k omits the box → all
    samples sync, spec §8.6.2) → mp4_sample_table → one row per
    sample with time, mdat-relative byte range, and keyframe flag.
    One fused Arrow stage like every media gate; nothing decodes."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp4,
        mp4_sample_table,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 16
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                n = e % 6 + 4
                ts = (600, 1200, 2400)[e % 3]
                sizes = [100 + ((s * 37 + e) % 50) for s in range(1, n + 1)]
                if k % 3 == 0:
                    chunks = [1] * n
                elif k % 3 == 1:
                    chunks = [2] * (n // 2) + ([1] if n % 2 else [])
                else:
                    chunks = [n]
                keyframes = (
                    None  # no stss → all sync
                    if k % 2 == 1
                    else [s for s in range(1, n + 1) if s % 3 == 1]
                )
                payloads.append(
                    build_mp4(
                        duration_ms=n * 100,
                        tracks=[
                            {
                                "width": 320,
                                "height": 240,
                                "codec": "avc1",
                                "media_timescale": ts,
                                "sample_sizes": sizes,
                                "sample_delta": ts // 10,
                                "chunks": chunks,
                                "keyframes": keyframes,
                                # 64-bit co64 offsets on even ids — the
                                # oracle is layout-independent, so both
                                # chunk-offset encodings must agree
                                "use_co64": e % 2 == 0,
                            }
                        ],
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in mp4_sample_table(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "sample": r["sample"],
                            "time_sec": r["time_sec"],
                            "mdat_offset": r["mdat_offset"],
                            "size": r["size"],
                            "keyframe": r["keyframe"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "sample", "time_sec", "mdat_offset", "size",
                    "keyframe",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: expand(synth(it)),
        schema=(
            "id long, sample int, time_sec double, mdat_offset long, "
            "size int, keyframe boolean"
        ),
    )


# ---------------------------------------------------------------------------
# Fragmented MP4 (DASH/CMAF) sample tables through the driver gate —
# real web video is overwhelmingly moof/traf-fragmented, so the
# keyframe-byte-range screening layer must read movie fragments, not
# just monolithic moov tables (ISO 14496-12 §8.8). Fixtures rotate
# every default-sample chain the spec offers (trun per-sample fields,
# tfhd defaults + first-sample-flags, trex fallback) and both base
# modes (explicit base-data-offset, default-base-is-moof). All of it
# is event_id arithmetic, so the oracle replays the construction with
# generate_series + a per-fragment window prefix-sum and no parser.
# Every 5th file additionally splits its last fragment across two
# trafs chained implicitly (§8.8.7) — table-identical, layout-only.
# ---------------------------------------------------------------------------

_MP4_FRAGMENTED_SQL = """
WITH g AS (
  SELECT event_id AS id,
         event_id // 20 AS k,
         2 + event_id % 3 AS m,
         2 + (event_id // 20) % 2 AS nf
  FROM events WHERE event_id % 20 = 12
),
s AS (
  SELECT id, k, m, UNNEST(generate_series(1, nf * m)) AS sample FROM g
),
e AS (
  SELECT id, k, m, sample,
         CAST((sample - 1) // m + 1 AS INT) AS frag,
         ((sample - 1) % m) + 1 AS sif
  FROM s
),
sz AS (
  SELECT *,
         CAST(CASE k % 3
           WHEN 0 THEN 100 + ((sample * 37 + id) % 50)
           WHEN 1 THEN 120 + ((frag * 13 + k) % 40)
           ELSE 80 + (k % 20) END AS INT) AS size
  FROM e
)
SELECT id,
       CAST(sample AS INT) AS sample,
       frag,
       ROUND((sample - 1) / 10.0, 4) AS time_sec,
       CAST(COALESCE(SUM(size) OVER (
              PARTITION BY id, frag ORDER BY sample
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
            ), 0) AS BIGINT) AS mdat_offset,
       size,
       (CASE k % 3 WHEN 0 THEN sample % 3 = 1
                   WHEN 1 THEN sif = 1
                   ELSE FALSE END) AS keyframe
FROM sz
"""


@register("multimodal_mp4_fragmented_keyframes", _MP4_FRAGMENTED_SQL)
def multimodal_mp4_fragmented_keyframes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Movie-fragment expansion end-to-end: build_fragmented_mp4
    fixtures with 2-3 moof+mdat fragments, 2-4 samples each, rotating
    the size/duration/flags source on k%3 (trun per-sample → tfhd
    defaults + first-sample-flags → trex fallback), the base mode
    per fragment (default-base-is-moof vs explicit 64-bit
    base-data-offset), and §8.8.7 implicit inter-traf chaining on
    k%5 (last fragment split across two trafs, the second with no
    base fields at all) → mp4_sample_table → one row per sample with
    global numbering, fragment (=mfhd sequence), time, per-fragment
    mdat-relative byte range, and keyframe flag. One fused Arrow stage
    like every media gate; nothing decodes."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_fragmented_mp4,
        mp4_sample_table,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 12
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                m = 2 + e % 3
                nf = 2 + k % 2
                mode = k % 3
                src = ("trun", "tfhd", "trex")[mode]
                fsrc = ("trun", "first", "trex")[mode]
                trex_size = 80 + (k % 20)
                frags = []
                for f in range(1, nf + 1):
                    samples = []
                    for sif in range(1, m + 1):
                        g = (f - 1) * m + sif
                        if mode == 0:
                            size = 100 + ((g * 37 + e) % 50)
                            sync = g % 3 == 1
                        elif mode == 1:
                            size = 120 + ((f * 13 + k) % 40)
                            sync = sif == 1
                        else:
                            size = trex_size
                            sync = False
                        samples.append(
                            {"size": size, "duration": 60, "sync": sync}
                        )
                    frags.append(
                        {
                            "track_ID": 1,
                            "samples": samples,
                            "size_source": src,
                            "duration_source": src,
                            "flags_source": fsrc,
                            "explicit_base": (f + k) % 2 == 0,
                            "tfdt": (f - 1) * m * 60,
                        }
                    )
                # §8.8.7 implicit inter-traf chaining rotates through
                # the gate: every 5th file splits its last fragment's
                # samples across a second traf with neither a base-
                # data-offset nor default-base-is-moof — the expanded
                # sample table is identical (data stays contiguous,
                # dts cursor continues), only the box layout changes,
                # so the closed-form oracle needs no variant
                if k % 5 == 0:
                    last = frags[-1]
                    cut = (m + 1) // 2
                    last["chained_trafs"] = [
                        {"track_ID": 1, "samples": last["samples"][cut:]}
                    ]
                    last["samples"] = last["samples"][:cut]
                payloads.append(
                    build_fragmented_mp4(
                        timescale=600,
                        tracks=[
                            {
                                "track_ID": 1,
                                "width": 640,
                                "height": 360,
                                "codec": "avc1",
                                "media_timescale": 600,
                                "trex_duration": 60 if mode == 2 else 0,
                                "trex_size": trex_size if mode == 2 else 0,
                                "trex_flags": (
                                    0x10000 if mode == 2 else 0
                                ),
                            }
                        ],
                        fragments=frags,
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in mp4_sample_table(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "sample": r["sample"],
                            "frag": r["chunk"],
                            "time_sec": r["time_sec"],
                            "mdat_offset": r["mdat_offset"],
                            "size": r["size"],
                            "keyframe": r["keyframe"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "sample", "frag", "time_sec", "mdat_offset",
                    "size", "keyframe",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: expand(synth(it)),
        schema=(
            "id long, sample int, frag int, time_sec double, "
            "mdat_offset long, size int, keyframe boolean"
        ),
    )


# ---------------------------------------------------------------------------
# EXIF metadata + orientation through the driver gate — the image
# screening layer that runs BEFORE pHash: make/model/capture-time
# provenance and the 8-way orientation transform (a fingerprint on
# un-rotated pixels misses every rotated re-post). Fixtures are real
# JPEGs with conformant APP1/TIFF blocks, byte order rotating II/MM
# on k-parity and every 7th k carrying NO Exif (absence is data).
# Oriented dimensions come from the REAL pixel array after
# apply_exif_orientation, not from tag arithmetic — but both reduce
# to the same closed form, which is what the oracle replays.
# ---------------------------------------------------------------------------

_EXIF_SQL = """
WITH g AS (
  SELECT event_id AS id,
         event_id // 20 AS k,
         8 + 2 * (event_id % 7) AS w0
  FROM events WHERE event_id % 20 = 3
)
SELECT id,
       (k % 7 <> 3) AS has_exif,
       CASE WHEN k % 7 = 3 THEN NULL
            ELSE 'Maker ' || CAST(k % 5 AS VARCHAR) END AS make,
       CASE WHEN k % 7 = 3 THEN NULL
            ELSE 'M-' || CAST(k % 11 AS VARCHAR) END AS model,
       CAST(CASE WHEN k % 7 = 3 THEN 1 ELSE k % 8 + 1 END AS INT)
         AS orientation,
       CASE WHEN k % 7 = 3 THEN NULL
            ELSE '2024:' || lpad(CAST(k % 12 + 1 AS VARCHAR), 2, '0')
                 || ':' || lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0')
                 || ' ' || lpad(CAST(k % 24 AS VARCHAR), 2, '0')
                 || ':00:00' END AS datetime_original,
       CAST(CASE WHEN k % 7 = 3 THEN NULL
                 ELSE 640 + (id % 7) * 160 END AS INT) AS pixel_x,
       CAST(CASE WHEN k % 7 = 3 OR k % 8 + 1 < 5 THEN w0
                 ELSE 8 END AS INT) AS oriented_w,
       CAST(CASE WHEN k % 7 = 3 OR k % 8 + 1 < 5 THEN 8
                 ELSE w0 END AS INT) AS oriented_h
FROM g
"""


@register("image_exif_orientation", _EXIF_SQL)
def image_exif_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF screening end-to-end: encode_jpeg fixtures + build_exif
    APP1 blocks (II and MM byte orders, heap-stored ASCII values,
    Exif-IFD pointer) → parse_exif → metadata columns, then the REAL
    decoded pixel array through apply_exif_orientation for display
    dimensions. One fused Arrow stage like every media gate."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.exif import (
        apply_exif_orientation,
        build_exif_app1,
        parse_exif,
        with_exif,
    )
    from ccgp_data_wrangling_spark.operators.media_codecs import (
        _decode_jpeg_pixels,
        encode_jpeg,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 3
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                w0 = 8 + 2 * (e % 7)
                px = (
                    (np.indices((8, w0)).sum(0) % 2) * 180 + 30
                ).astype(np.uint8)
                blob = encode_jpeg(px)
                if k % 7 != 3:
                    blob = with_exif(
                        blob,
                        build_exif_app1(
                            make=f"Maker {k % 5}",
                            model=f"M-{k % 11}",
                            orientation=k % 8 + 1,
                            datetime_original=(
                                f"2024:{k % 12 + 1:02d}:{k % 28 + 1:02d}"
                                f" {k % 24:02d}:00:00"
                            ),
                            pixel_x=640 + (e % 7) * 160,
                            pixel_y=480 + (e % 7) * 120,
                            byte_order="II" if k % 2 == 0 else "MM",
                        ),
                    )
                payloads.append(blob)
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = parse_exif(bytes(blob))
                px = _decode_jpeg_pixels(bytes(blob))
                oriented = apply_exif_orientation(px, m["orientation"])
                rows.append(
                    {
                        "id": rid,
                        "has_exif": m["has_exif"],
                        "make": m["make"],
                        "model": m["model"],
                        "orientation": m["orientation"],
                        "datetime_original": m["datetime_original"],
                        "pixel_x": m["pixel_x"],
                        "oriented_w": oriented.shape[1],
                        "oriented_h": oriented.shape[0],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "has_exif", "make", "model", "orientation",
                    "datetime_original", "pixel_x", "oriented_w",
                    "oriented_h",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, has_exif boolean, make string, model string, "
            "orientation int, datetime_original string, pixel_x int, "
            "oriented_w int, oriented_h int"
        ),
    )


# ---------------------------------------------------------------------------
# Video thumbnailing E2E through the driver gate — the composition
# the MP4 sample-table layer exists FOR: expand stts/stsz/stco/stss,
# take only keyframe byte ranges, slice the mdat payload at those
# offsets, decode the sliced bytes with the REAL netpbm kernel, and
# fingerprint-grade features come out — no video codec anywhere, and
# the non-keyframe samples (codec-delta stand-ins) are never even
# sliced. A wrong stco/stsz expansion feeds garbage to the image
# decoder and fails loudly; the oracle replays the constructed flat
# images' luma closed-form.
# ---------------------------------------------------------------------------

_VIDEO_THUMB_SQL = """
WITH g AS (
  SELECT event_id AS id, (event_id // 20) % 3 + 2 AS nk
  FROM events WHERE event_id % 20 = 7
),
j AS (
  SELECT id, UNNEST(generate_series(0, nk - 1)) AS kf FROM g
)
SELECT id,
       CAST(2 * kf + 1 AS INT) AS sample,
       CAST(8 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST((id + 37 * kf) % 200 + 10 AS DOUBLE) AS luma_mean
FROM j
"""


@register("video_keyframe_thumbnails", _VIDEO_THUMB_SQL)
def video_keyframe_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe thumbnail extraction end-to-end: build_mp4 fixtures
    whose keyframe samples are real PGM images (delta samples are
    opaque filler) → mp4_sample_table → keyframe byte ranges → mdat
    slice → real netpbm decode → per-keyframe luma. One Arrow stage
    for synth, one for the expand+slice+decode chain."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        _parse_netpbm,
        build_mp4,
        mp4_sample_table,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 7
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                nk = (e // 20) % 3 + 2
                samples = []
                for s in range(2 * nk - 1):
                    if s % 2 == 0:  # keyframe: a real 8×8 flat PGM
                        j = s // 2
                        val = (e + 37 * j) % 200 + 10
                        samples.append(
                            b"P5\n8 8\n255\n" + bytes([val] * 64)
                        )
                    else:  # codec-delta stand-in: opaque filler
                        samples.append(bytes([s * 3 % 251] * 40))
                payloads.append(
                    build_mp4(
                        duration_ms=100 * (2 * nk - 1),
                        tracks=[
                            {
                                "width": 8,
                                "height": 8,
                                "codec": "avc1",
                                "sample_payloads": samples,
                                "sample_delta": 100,
                                "keyframes": [
                                    2 * j + 1 for j in range(nk)
                                ],
                            }
                        ],
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def thumbs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                data = bytes(blob)
                for r in mp4_sample_table(data):
                    if not r["keyframe"]:
                        continue
                    sl = data[r["offset"] : r["offset"] + r["size"]]
                    _, w, h, _, px = _parse_netpbm(sl)
                    rows.append(
                        {
                            "id": rid,
                            "sample": r["sample"],
                            "width": w,
                            "height": h,
                            "luma_mean": float(
                                np.mean(px.astype(np.float64))
                            ),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["id", "sample", "width", "height", "luma_mean"],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: thumbs(synth(it)),
        schema=(
            "id long, sample int, width int, height int, "
            "luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# MP3 frame-walk metadata through the driver gate — the audio twin of
# the MP4 screening stage: duration / bitrate / channel / VBR
# screening costs a header walk, not a decode. Fixtures are
# conformant frame sequences from build_mp3 (spec-exact frame
# lengths, ID3 wrappers, Xing tags, CRC and padding variants); every
# output column is event_id arithmetic, so the oracle replays the
# construction with no parser at all.
# ---------------------------------------------------------------------------

_MP3_SQL = """
SELECT event_id AS id,
       CASE event_id % 3 WHEN 0 THEN 'MPEG1' WHEN 1 THEN 'MPEG2'
                         ELSE 'MPEG2.5' END AS version,
       CAST(CASE event_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 24000
                              ELSE 11025 END AS INT) AS sample_rate,
       CAST(CASE WHEN (event_id // 20) % 2 = 1 THEN 1 ELSE 2 END AS INT)
         AS n_channels,
       CAST(CASE WHEN event_id % 3 = 0 THEN 128 ELSE 64 END AS INT)
         AS bitrate_kbps,
       CAST((event_id % 9) + 2 AS INT) AS n_frames,
       ROUND(
         CAST(((event_id % 9) + 2)
              * (CASE WHEN event_id % 3 = 0 THEN 1152 ELSE 576 END)
              AS DOUBLE)
         / (CASE event_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 24000
                              ELSE 11025 END), 4) AS duration_sec,
       ((event_id // 20) % 4 = 1 OR (event_id // 20) % 5 = 0) AS vbr,
       (event_id % 7 = 0) AS id3v2
FROM events WHERE event_id % 20 = 12
"""


@register("multimodal_mp3_metadata", _MP3_SQL)
def multimodal_mp3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real MP3 frame-header walk end-to-end: build_mp3 fixtures
    (three MPEG versions, VBR bitrate schedules, Xing tags with
    cross-checked frame counts, ID3v2/ID3v1 wrappers, CRC + padding
    variants) → parse_mp3_meta → screening columns. One Arrow pass;
    the frame-walk layer is real, the audio decode raises honestly
    elsewhere (media_codecs section comment)."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3,
        parse_mp3_meta,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 12
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                # The gate keeps e ≡ 12 (mod 20), so residues of e mod
                # 2/4/5 are CONSTANT inside the gate (r6 advice: the
                # VBR / Xing / mono branches were dead).  k = e // 20
                # walks 0,1,2,… across gate survivors, so k-residues
                # exercise every branch; e-residues coprime with 20
                # (mod 3/7/9) stay on event_id directly.
                k = e // 20
                version = ("MPEG1", "MPEG2", "MPEG2.5")[e % 3]
                rate = (44100, 24000, 11025)[e % 3]
                base = 128 if e % 3 == 0 else 64
                n = e % 9 + 2
                # VBR schedule alternates base and the next table step
                up = 160 if e % 3 == 0 else 80
                kbps: int | list[int] = (
                    [base if i % 2 == 0 else up for i in range(n)]
                    if k % 4 == 1
                    else base
                )
                payloads.append(
                    build_mp3(
                        version=version,
                        layer=3,
                        bitrate_kbps=kbps,
                        sample_rate=rate,
                        n_frames=n,
                        mono=k % 2 == 1,
                        pad_every=2 if e % 3 == 0 else 0,
                        xing=k % 5 == 0,
                        id3v2_bytes=40 if e % 7 == 0 else 0,
                        id3v1=e % 7 == 3,
                        crc=e % 6 == 2,
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = parse_mp3_meta(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "version": m["version"],
                        "sample_rate": m["sample_rate"],
                        "n_channels": m["n_channels"],
                        "bitrate_kbps": m["bitrate_kbps"],
                        "n_frames": m["n_frames"],
                        "duration_sec": m["duration_sec"],
                        "vbr": m["vbr"],
                        "id3v2": m["id3v2"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "version", "sample_rate", "n_channels",
                    "bitrate_kbps", "n_frames", "duration_sec", "vbr",
                    "id3v2",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, version string, sample_rate int, n_channels int, "
            "bitrate_kbps int, n_frames int, duration_sec double, "
            "vbr boolean, id3v2 boolean"
        ),
    )


# ---------------------------------------------------------------------------
# MP3 VBR profile through the driver gate — the full-depth audio
# screening layer: the frame walk's per-frame bitrate histogram
# (min/max/average, distinct rates) plus carrier detection for BOTH
# VBR header conventions (Xing and Fraunhofer VBRI, rotating on
# event_id // 20 so each fires inside the gate). Every column is a
# closed form of the constructed bitrate schedule, so the oracle
# replays the arithmetic with no parser.
# ---------------------------------------------------------------------------

_MP3_VBR_SQL = """
WITH g AS (
  SELECT event_id AS id,
         event_id % 9 + 3 AS n,
         event_id // 20 AS k,
         CASE WHEN event_id % 3 = 0 THEN 128 ELSE 64 END AS base,
         CASE WHEN event_id % 3 = 0 THEN 160 ELSE 80 END AS up,
         CASE WHEN event_id % 3 = 0 THEN 1152 ELSE 576 END AS spf,
         CASE event_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 24000
                           ELSE 11025 END AS rate
  FROM events WHERE event_id % 20 = 18
)
SELECT id,
       CAST(n AS INT) AS n_frames,
       CAST(CASE WHEN k % 3 <> 0 THEN 2 ELSE 1 END AS INT) AS n_bitrates,
       CAST(base AS INT) AS min_kbps,
       CAST(CASE WHEN k % 3 <> 0 THEN up ELSE base END AS INT) AS max_kbps,
       ROUND(CASE WHEN k % 3 <> 0
             THEN (base * (n - n // 2) + up * (n // 2))
                  / CAST(n AS DOUBLE)
             ELSE CAST(base AS DOUBLE) END, 2) AS avg_kbps,
       (k % 3 <> 0 OR k % 5 = 0 OR k % 5 = 2) AS vbr,
       ROUND(n * spf / CAST(rate AS DOUBLE), 4) AS duration_sec
FROM g
"""


@register("multimodal_mp3_vbr_profile", _MP3_VBR_SQL)
def multimodal_mp3_vbr_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VBR-profile screening end-to-end: build_mp3 fixtures with an
    alternating bitrate schedule on two of three k-residues and a
    Xing (k%5==0) or VBRI (k%5==2) carrier header → parse_mp3_meta's
    walked histogram → min/max/avg bitrate, distinct-rate count, VBR
    flag, sample-exact duration. One fused Arrow stage; decode still
    raises honestly elsewhere."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3,
        parse_mp3_meta,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 18
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                version = ("MPEG1", "MPEG2", "MPEG2.5")[e % 3]
                rate = (44100, 24000, 11025)[e % 3]
                base = 128 if e % 3 == 0 else 64
                up = 160 if e % 3 == 0 else 80
                n = e % 9 + 3
                kbps: int | list[int] = (
                    [base if i % 2 == 0 else up for i in range(n)]
                    if k % 3 != 0
                    else base
                )
                payloads.append(
                    build_mp3(
                        version=version,
                        layer=3,
                        bitrate_kbps=kbps,
                        sample_rate=rate,
                        n_frames=n,
                        xing=k % 5 == 0,
                        vbri=k % 5 == 2,
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def profile(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = parse_mp3_meta(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "n_frames": m["n_frames"],
                        "n_bitrates": m["n_bitrates"],
                        "min_kbps": m["min_bitrate_kbps"],
                        "max_kbps": m["max_bitrate_kbps"],
                        "avg_kbps": m["avg_bitrate_kbps"],
                        "vbr": m["vbr"],
                        "duration_sec": m["duration_sec"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "n_frames", "n_bitrates", "min_kbps",
                    "max_kbps", "avg_kbps", "vbr", "duration_sec",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: profile(synth(it)),
        schema=(
            "id long, n_frames int, n_bitrates int, min_kbps int, "
            "max_kbps int, avg_kbps double, vbr boolean, "
            "duration_sec double"
        ),
    )


# ---------------------------------------------------------------------------
# MP3 Layer I subband decode through the driver gate — REAL audio
# decode through dequantization (ISO 11172-3 §2.4.3.3): allocation /
# scalefactor / sample-code reads and the spec requantization
# formulas, yielding the 32-band spectral envelope screening uses.
# Only the polyphase synthesis window stays behind the honest gate.
# Scalefactor indices are multiples of 3 → factors are exact powers
# of two, so the oracle's POWER() arithmetic reproduces the kernel's
# doubles bit-for-bit (sum-order ulps vanish at the 6-dp round).
# ---------------------------------------------------------------------------

_MP3_SUBBAND_SQL = """
WITH g AS (
  SELECT event_id AS id FROM events WHERE event_id % 20 = 11
),
sb AS (
  SELECT id, UNNEST(generate_series(0, 31)) AS subband FROM g
),
bands AS (
  SELECT id, subband,
         2 + (subband % 6) + 1 AS nb,
         3 * ((id + subband) % 5) AS sfi
  FROM sb WHERE (id + subband) % 4 = 0
),
samp AS (
  SELECT id, subband, nb, sfi,
         UNNEST(generate_series(0, 11)) AS t
  FROM bands
),
vals AS (
  SELECT id, subband, nb, sfi,
         (2.0 * POWER(2.0, -(sfi // 3)))
         * ((POWER(2.0, nb) / (POWER(2.0, nb) - 1))
            * (((t * (subband + 1) + id)
                % CAST(POWER(2, nb) AS BIGINT))
               / POWER(2.0, nb - 1)
               - 1 + POWER(2.0, -(nb - 1)))) AS v
  FROM samp
)
SELECT id, 0 AS frame,
       CAST(subband AS INT) AS subband,
       CAST(nb AS INT) AS nbits,
       CAST(sfi AS INT) AS scf_idx,
       ROUND(SQRT(SUM(v * v) / 12.0), 6) AS rms
FROM vals GROUP BY id, subband, nb, sfi
"""


@register("multimodal_mp3_subband_decode", _MP3_SUBBAND_SQL)
def multimodal_mp3_subband_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer I subband decode end-to-end: build_mp3_layer1 fixtures
    (real bit-packed allocation/scalefactor/sample payload) →
    decode_mp3_layer1_subbands → per-band RMS envelope. Two Arrow
    stages; PCM synthesis still raises honestly."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3_layer1,
        decode_mp3_layer1_subbands,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 11
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                alloc = [
                    2 + (sb % 6) if (e + sb) % 4 == 0 else 0
                    for sb in range(32)
                ]
                scf = [
                    3 * ((e + sb) % 5) if alloc[sb] else 0
                    for sb in range(32)
                ]
                payloads.append(
                    build_mp3_layer1(
                        alloc=alloc,
                        scf_idx=scf,
                        codes=lambda t, sb, _e=e, _a=alloc: (
                            (t * (sb + 1) + _e) % (1 << (_a[sb] + 1))
                        ),
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in decode_mp3_layer1_subbands(bytes(blob)):
                    rows.append({"id": rid, **r})
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "frame", "subband", "nbits", "scf_idx", "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, frame int, subband int, nbits int, scf_idx int, "
            "rms double"
        ),
    )


# ---------------------------------------------------------------------------
# MP3 Layer III spectral screening through the driver gate — side
# info, scalefactors, big-value + count1 Huffman decode and
# requantization (ISO 11172-3 §2.4.2.7 / §2.4.3.4), the
# filter-before-decode depth for MUSIC corpora (Layer I's subband
# path covers the legacy layer). Fixture granules are pure event_id
# arithmetic — pair values via table 3, count1 quads via tables A/B,
# scalefactors under compress index 9 — so the oracle replays the
# whole requantization chain in SQL: POWER(|c|, 4/3) · 2^((gg-210)/4)
# · 2^(−mult·(sf+pre·pretab)), band-joined against the Table B.8
# boundaries inlined as VALUES. IMDCT/synthesis still raise.
# ---------------------------------------------------------------------------

_MP3_L3_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 14
),
gr AS (
  SELECT id, k, UNNEST([0, 1]) AS granule FROM g
),
frames AS (
  -- k%3==1 payloads carry TWO reservoir-packed frames of the same
  -- granules: spectra repeat per frame, layout-only otherwise
  SELECT id, UNNEST(CASE WHEN k % 3 = 1 THEN [0, 1] ELSE [0] END)
           AS frame
  FROM g
),
p AS (
  SELECT id, k, granule,
         3 + id % 4 AS np, 1 + k % 3 AS nq,
         140 + id % 50 + 10 * granule AS gg,
         k % 2 AS pre, (k // 2) % 2 AS scale
  FROM gr
),
lines AS (
  SELECT p.*, UNNEST(generate_series(0, 2 * np + 4 * nq - 1)) AS line
  FROM p
),
vals AS (
  SELECT *, CASE
      WHEN line < 2 * np AND line % 2 = 0
        THEN ((line // 2) * 3 + id) % 5 - 2
      WHEN line < 2 * np
        THEN ((line // 2) * 5 + id + granule) % 5 - 2
      ELSE ((id + ((line - 2 * np) // 4) * 4
             + (line - 2 * np) % 4 + granule) % 3) - 1
    END AS c
  FROM lines
),
bands AS (
  SELECT * FROM (VALUES
    (0,0,4,0),(1,4,8,0),(2,8,12,0),(3,12,16,0),(4,16,20,0),(5,20,24,0),
    (6,24,30,0),(7,30,36,0),(8,36,44,0),(9,44,52,0),(10,52,62,0),
    (11,62,74,1),(12,74,90,1),(13,90,110,1),(14,110,134,1),
    (15,134,162,2),(16,162,196,2),(17,196,238,3),(18,238,288,3),
    (19,288,342,3),(20,342,418,2),(21,418,576,0)
  ) AS b(sfb, lo, hi, pretab)
),
agg AS (
  SELECT v.id, v.granule, b.sfb,
         CAST(SUM(CASE WHEN v.c <> 0 THEN 1 ELSE 0 END) AS INT) AS nnz,
         SUM(POWER(
           POWER(ABS(v.c), 4.0 / 3.0)
           * POWER(2.0, 0.25 * (v.gg - 210))
           * POWER(2.0, -(0.5 * (v.scale + 1))
                   * ((v.id + b.sfb + v.granule) % 4
                      + v.pre * b.pretab)),
           2)) AS e
  FROM vals v
  JOIN bands b ON v.line >= b.lo AND v.line < b.hi
  GROUP BY 1, 2, 3
)
SELECT p.id,
       CAST(f.frame AS INT) AS frame,
       CAST(p.granule AS INT) AS granule,
       CAST(b.sfb AS INT) AS sfb,
       CAST(b.hi - b.lo AS INT) AS width,
       CAST(COALESCE(a.nnz, 0) AS INT) AS n_nonzero,
       ROUND(SQRT(COALESCE(a.e, 0.0) / (b.hi - b.lo)), 6) AS rms
FROM p CROSS JOIN bands b
JOIN frames f ON f.id = p.id
LEFT JOIN agg a ON a.id = p.id AND a.granule = p.granule
                AND a.sfb = b.sfb
"""


@register("multimodal_mp3_layer3_spectrum", _MP3_L3_SQL)
def multimodal_mp3_layer3_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer III decode-to-requantization end-to-end:
    build_mp3_layer3 fixtures (real side info, Huffman-coded
    big-value pairs via table 3, count1 quads rotating tables A/B
    per granule, 21 transmitted scalefactors, preflag and both
    scalefac_scale multipliers on k-rotation; k%3==1 payloads carry
    TWO frames packed through the bit reservoir, exercising nonzero
    main_data_begin in-gate) → decode_mp3_layer3_spectrum →
    per-scalefactor-band RMS envelope. One fused Arrow stage;
    IMDCT/polyphase synthesis still raise."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3_layer3,
        decode_mp3_layer3_spectrum,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 14
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                np_, nq = 3 + e % 4, 1 + k % 3
                grans = []
                for gr in range(2):
                    pairs = [
                        (
                            (i * 3 + e) % 5 - 2,
                            (i * 5 + e + gr) % 5 - 2,
                        )
                        for i in range(np_)
                    ]
                    quads = [
                        tuple(
                            (e + j * 4 + q + gr) % 3 - 1
                            for q in range(4)
                        )
                        for j in range(nq)
                    ]
                    grans.append(
                        dict(
                            global_gain=140 + e % 50 + 10 * gr,
                            scalefac_compress=9,
                            scalefac=[
                                (e + b + gr) % 4 for b in range(21)
                            ],
                            preflag=k % 2,
                            scalefac_scale=(k // 2) % 2,
                            table=3,
                            pairs=pairs,
                            quads=quads,
                            count1table="A" if gr == 0 else "B",
                        )
                    )
                if k % 3 == 1:
                    # two frames of the same granules packed through
                    # the bit reservoir (nonzero main_data_begin on
                    # frame 1); the low bitrate keeps the back-pointer
                    # under its 9-bit cap the way encoder stuffing
                    # would — spectra repeat per frame, so the oracle
                    # only fans out a frame index
                    payloads.append(
                        build_mp3_layer3(
                            frames=[{"granules": grans}] * 2,
                            bitrate_kbps=32,
                            reservoir=True,
                        )
                    )
                else:
                    payloads.append(build_mp3_layer3(granules=grans))
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in decode_mp3_layer3_spectrum(bytes(blob)):
                    rows.append({"id": rid, **r})
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "frame", "granule", "sfb", "width",
                    "n_nonzero", "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, frame int, granule int, sfb int, width int, "
            "n_nonzero int, rms double"
        ),
    )


# ---------------------------------------------------------------------------
# ID3v2 text frames through the driver gate — audio provenance
# metadata (title / artist / album / year) read from the tag alone,
# no audio frame touched: the audio twin of the EXIF layer. Version
# rotates v2.3/v2.4 on k-parity (v2.4: syncsafe frame sizes, UTF-16BE
# enc 2, per-frame unsynchronisation, '3DI' footer on k%4==3), with
# k%11==4 rows downgraded to v2.2 (6-byte frame headers, 3-char ids
# translated to modern spellings, UCS-2, whole-tag unsync);
# encoding rotates on k%3; unsynchronised rows (k%7==1) carry a
# literal ÿ so the guard-byte path demonstrably fires; every 5th k
# has NO tag (absence is data).
# ---------------------------------------------------------------------------

_ID3_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 9
)
SELECT id,
       (k % 5 <> 2) AS has_tag,
       CAST(CASE WHEN k % 5 = 2 THEN 0
                 WHEN k % 11 = 4 THEN 2
                 WHEN k % 2 = 1 THEN 4 ELSE 3 END AS INT) AS tag_version,
       CASE WHEN k % 5 = 2 THEN NULL
            ELSE 'Track ' || CAST(k % 9 AS VARCHAR) END AS title,
       CASE WHEN k % 5 = 2 THEN NULL
            ELSE 'Artist ' || CAST(id % 7 AS VARCHAR)
                 || CASE WHEN k % 7 = 1 THEN 'ÿ' ELSE '' END
       END AS artist,
       CASE WHEN k % 5 = 2 THEN NULL
            WHEN k % 2 = 0 AND k % 3 = 0 AND k % 11 <> 4
              THEN 'Alb ' || CAST(k % 4 AS VARCHAR)
            ELSE 'Alb—' || CAST(k % 4 AS VARCHAR) END AS album,
       CASE WHEN k % 5 = 2 THEN NULL
            ELSE CAST(1990 + id % 30 AS VARCHAR) END AS year,
       CAST(CASE WHEN k % 5 = 2 THEN 0 ELSE 4 END AS INT)
         AS n_text_frames
FROM g
"""


@register("audio_id3_metadata", _ID3_SQL)
def audio_id3_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 provenance end-to-end: build_mp3 fixtures carrying real
    ID3v2.2, v2.3 AND v2.4 tags (TIT2/TPE1/TALB/TYER — v2.2 rows
    write the 3-char spellings and the parser translates them back;
    rotating text encodings incl. v2.4's UTF-16BE, per-version
    unsynchronisation with literal ÿ bytes, and the v2.4 footer) →
    parse_id3v2 → metadata columns; the MP3 frame walk skips the tag
    — footer included — by its syncsafe size. One fused Arrow stage; no
    audio decode."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3,
        parse_id3v2,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 9
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                ver = 2 if k % 11 == 4 else (4 if k % 2 == 1 else 3)
                unsync = k % 7 == 1
                if k % 5 == 2:
                    frames = None
                else:
                    frames = {
                        "TIT2": f"Track {k % 9}",
                        "TPE1": (
                            f"Artist {e % 7}" + ("ÿ" if unsync else "")
                        ),
                        # em dash only where the encoding carries it
                        # (enc 0 appears only on v2.3 k%3==0 rows)
                        "TALB": (
                            f"Alb {k % 4}" if ver == 3 and k % 3 == 0
                            else f"Alb—{k % 4}"
                        ),
                        "TYER": str(1990 + e % 30),
                    }
                payloads.append(
                    build_mp3(
                        n_frames=e % 5 + 2,
                        id3v2_frames=frames,
                        id3v2_encoding=(
                            1 if ver == 2  # v2.2 defines only 0/1;
                            # UCS-2 carries the em dash and ÿ rows
                            else ((0, 1, 3) if ver == 3 else (2, 1, 3))[
                                k % 3
                            ]
                        ),
                        id3v2_version=ver,
                        id3v2_unsync=unsync,
                        id3v2_footer=(ver == 4 and k % 4 == 3),
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                t = parse_id3v2(bytes(blob))
                fr = t["frames"]
                rows.append(
                    {
                        "id": rid,
                        "has_tag": bool(fr),
                        "tag_version": t["version"],
                        "title": fr.get("TIT2"),
                        "artist": fr.get("TPE1"),
                        "album": fr.get("TALB"),
                        "year": fr.get("TYER"),
                        "n_text_frames": len(fr),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "has_tag", "tag_version", "title", "artist",
                    "album", "year", "n_text_frames",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, has_tag boolean, tag_version int, title string, "
            "artist string, album string, year string, n_text_frames int"
        ),
    )


# ---------------------------------------------------------------------------
# Sub-byte PNG decode through the driver gate: depths 1/2/4 pack
# multiple samples per scanline byte (MSB-first, RFC 2083 §2.3) —
# the bilevel/low-color variant scanned-document and icon corpora
# carry. Even-width checkerboards of two adjacent sample values make
# every mean a closed form; odd ids route through a PLTE palette so
# both sub-byte color types run inside the gate. Lossless, so the
# oracle replays the construction exactly.
# ---------------------------------------------------------------------------

_PNG_SUBBYTE_SQL = """
SELECT event_id AS id,
       'image' AS kind,
       CAST(2 * ((event_id % 3) + 2) AS INT) AS width,
       CAST(((event_id // 20) % 5) + 2 AS INT) AS height,
       CAST(CASE WHEN (event_id // 20) % 2 = 1 THEN 3 ELSE 1 END AS INT)
         AS n_channels,
       ROUND(CASE WHEN (event_id // 20) % 2 = 1 THEN
           ((event_id % (CASE event_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
                         ELSE 15 END)) * 37 + event_id % 7) % 256 / 2.0
         + (((event_id % (CASE event_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
                          ELSE 15 END)) + 1) * 37 + event_id % 7) % 256 / 2.0
       ELSE
           (event_id % (CASE event_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3
                        ELSE 15 END)) + 0.5
       END, 4) AS mean0
FROM events WHERE event_id % 20 = 15
"""


@register("multimodal_png_subbyte_decode", _PNG_SUBBYTE_SQL)
def multimodal_png_subbyte_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Depth-1/2/4 PNG decode end-to-end: packed-scanline fixtures
    (all five filters cycling, alternate images Adam7-interlaced,
    odd ids palette-typed) → MSB-first bit unpack → channel means in
    native units, driver-checked against the checkerboard's closed
    form. Same fused single-Arrow-stage shape as the other media gates."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_png,
        encode_png,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 15
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                depth = (1, 2, 4)[e % 3]
                a = e % ((1 << depth) - 1)
                w = 2 * (e % 3 + 2)
                h = (e // 20) % 5 + 2
                i, j = np.mgrid[0:h, 0:w]
                px = (a + (i + j) % 2).astype(np.uint8)
                # (e >> 1) & 1 was constant-True under the e ≡ 15
                # (mod 20) gate (r6 advice: sequential sub-byte decode
                # never ran here); (e // 40) % 2 alternates independently
                # of the palette toggle below, so all four
                # palette × interlace combinations fire in the gate.
                il = (e // 40) % 2 == 1
                if (e // 20) % 2 == 1:  # palette via PLTE
                    pal = np.zeros((1 << depth, 3), np.uint8)
                    pal[:, 0] = (
                        np.arange(1 << depth) * 37 + e % 7
                    ) % 256
                    pal[:, 1] = (np.arange(1 << depth) * 11 + 3) % 256
                    pal[:, 2] = (np.arange(1 << depth) * 5 + 1) % 256
                    payloads.append(
                        encode_png(px, depth=depth, palette=pal,
                                   interlace=il)
                    )
                else:
                    payloads.append(
                        encode_png(px, depth=depth, interlace=il)
                    )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = decode_png(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "kind": m["kind"],
                        "width": m["width"],
                        "height": m["height"],
                        "n_channels": m["n_channels"],
                        "mean0": m["channel_means"][0],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "kind", "width", "height", "n_channels", "mean0",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, kind string, width int, height int, "
            "n_channels int, mean0 double"
        ),
    )


# ---------------------------------------------------------------------------
# PDF 1.5 extraction through the driver gate: the SAME text must come
# out of the modern layout real files use — dicts packed in an
# object stream, content streams with INDIRECT /Length references,
# and a predictor-encoded cross-reference STREAM as the only trailer
# (sources/pdf.build_pdf15). Predictor rotates per doc (none / TIFF /
# PNG-Up) so all three decode paths run inside the gate. The oracle
# replays the construction, so any mis-slice or mis-resolution
# breaks the hash.
# ---------------------------------------------------------------------------

_PDF15_SQL = """
WITH base AS (
  SELECT doc_id,
         'v15 doc ' || CAST(doc_id AS VARCHAR) || chr(10)
           || regexp_replace(substr(text, 41, 40), '[^ -~]', '', 'g')
           AS page0
  FROM documents
)
SELECT doc_id, 0 AS page, page0 AS text,
       CAST(length(page0) AS INT) AS n_chars
FROM base
UNION ALL
SELECT doc_id, 1 AS page,
       'obj stream page' || chr(10) || 'K' || CAST(doc_id % 11 AS VARCHAR)
         AS text,
       CAST(17 + length(CAST(doc_id % 11 AS VARCHAR)) AS INT) AS n_chars
FROM documents WHERE doc_id % 4 = 1
"""


@register("pdf15_text_extract", _PDF15_SQL)
def pdf15_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF 1.5 ingest end-to-end: build_pdf15 fixtures (ObjStm-packed
    document dicts, indirect /Length content streams, xref-stream
    trailer, per-doc predictor rotation) → the same lexical+resolve
    extraction → one row per page. Twin of pdf_text_extract; together
    they pin both container generations."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import (
        build_pdf15,
        pdf_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 41, 40), "[^ -~]", "").alias(
            "__mid"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, mid in zip(pdf["doc_id"], pdf["__mid"]):
                pages = [[f"v15 doc {did}", str(mid)]]
                if did % 4 == 1:
                    pages.append(
                        ["obj stream page", f"K{int(did) % 11}"]
                    )
                pred = (1, 2, 12)[int(did) % 3]
                payloads.append(build_pdf15(pages, predictor=pred))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return pdf_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# Encrypted-PDF extraction through the driver gate — the standard
# security handler (ISO 32000-1 §7.6.3 + 32000-2 §7.6.4): cipher
# variant rotates per doc (RC4-40 / RC4-128 / StdCF-V2 / StdCF-AESV2
# / AES-256 R6 / AES-256 R5) so password verification (Algorithms 6
# and 11/12), per-object keys (Algorithm 1), the revision-6 iterated
# hash (Algorithm 2.B), /Perms validation, RC4 and the from-scratch
# FIPS-197 AES-128/256 CBC all run inside the gate.
# Decryption is lossless, so the oracle replays the plaintext
# construction with no crypto at all — an extractor that decrypted
# wrongly would inflate garbage and break the hash (AES padding and
# zlib checksums both fail loudly on a wrong key).
# ---------------------------------------------------------------------------

_PDF_ENC_SQL = """
SELECT doc_id,
       0 AS page,
       'sec ' || CAST(doc_id AS VARCHAR) || chr(10)
         || 'cipher ' || CAST(doc_id % 6 AS VARCHAR)
         || ' :: ' || CAST(doc_id % 13 AS VARCHAR) AS text,
       CAST(length('sec ' || CAST(doc_id AS VARCHAR)) + 1
            + length('cipher ' || CAST(doc_id % 6 AS VARCHAR)
                     || ' :: ' || CAST(doc_id % 13 AS VARCHAR))
            AS INT) AS n_chars
FROM documents WHERE doc_id % 5 = 2
"""


@register("pdf_encrypted_extract", _PDF_ENC_SQL)
def pdf_encrypted_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encrypted-PDF ingest end-to-end: build_pdf_encrypted fixtures
    (real Algorithm 3/5 — or 8/9/10 for V5 — /O and /U entries,
    hex-string dict values, per-object RC4 or AES-CBC stream
    encryption; AES-256 uses the file key directly) → password verify
    → key derivation → decrypt → inflate → text reconstruction → one
    row per page. The corpus password opens all six cipher variants;
    the V5 fixtures share credentials so the revision-6 hash is
    derived once per worker (lru_cache), as a real corpus crawl
    would."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import (
        build_pdf_encrypted,
        pdf_documents,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 2
    ).select("doc_id").repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                variant = d % 6
                pages = [
                    [f"sec {d}", f"cipher {variant} :: {d % 13}"]
                ]
                if variant == 0:
                    blob = build_pdf_encrypted(
                        pages, user_pw=b"corpus", v=1
                    )
                elif variant == 1:
                    blob = build_pdf_encrypted(
                        pages, user_pw=b"corpus", v=2, r=3
                    )
                elif variant == 2:
                    blob = build_pdf_encrypted(
                        pages, user_pw=b"corpus", v=4, r=4
                    )
                elif variant == 3:
                    blob = build_pdf_encrypted(
                        pages, user_pw=b"corpus", v=4, r=4, aes=True
                    )
                elif variant == 4:
                    blob = build_pdf_encrypted(
                        pages, user_pw=b"corpus", v=5, r=6
                    )
                else:
                    blob = build_pdf_encrypted(
                        pages, user_pw=b"corpus", v=5, r=5
                    )
                payloads.append(blob)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return pdf_documents(docs, pre=synth, password=b"corpus")


# ---------------------------------------------------------------------------
# Embedding int8 quantization audit (operators/quantize.py): the
# storage stage of a 100 TB vector corpus — 4× smaller codes, affine
# reconstruction, per-vector error profile. Codes use floor(x+0.5)
# (never ROUND) so no half-even disagreement can exist between
# engines; sums fold in list order on both sides.
# ---------------------------------------------------------------------------

_QUANT_SQL = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
  FROM embeddings
),
s AS (
  SELECT id, e, len(e) AS n, list_min(e) AS vmin, list_max(e) AS vmax,
         -- guard the COMPUTED scale: subnormal ranges underflow /255
         CASE WHEN (list_max(e) - list_min(e)) / 255.0 = 0.0 THEN 1.0
              ELSE (list_max(e) - list_min(e)) / 255.0 END AS scale
  FROM v
),
r AS (
  SELECT id, n, vmin, vmax, scale,
         list_transform(
           e, x -> x - (vmin + FLOOR((x - vmin) / scale + 0.5) * scale)
         ) AS err
  FROM s
)
SELECT id,
       CAST(n AS INT) AS n_dims,
       ROUND(vmin, 6) AS vmin,
       ROUND(vmax, 6) AS vmax,
       ROUND(scale, 6) AS scale,
       ROUND(list_sum(list_transform(err, x -> x * x)) / n, 6) AS mse,
       ROUND(list_max(list_transform(err, x -> abs(x))), 6)
         AS max_abs_err
FROM r
"""


@register("embedding_quantize_audit", _QUANT_SQL)
def embedding_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization over the embeddings table — pure
    Column expressions (transform/aggregate/array_min), zero UDFs,
    whole-stage codegen end to end."""
    from ccgp_data_wrangling_spark.operators.quantize import quantize_stats

    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_stats(emb, "vec_id", "embedding")


# ---------------------------------------------------------------------------
# BMP and baseline-TIFF decode through the driver gate — the two
# uncompressed image containers (screenshots, scans) completing the
# format matrix next to netpbm/JPEG/PNG/GIF. Flat fixtures make every
# channel mean a closed form; variants rotate on event_id // 20
# (24-bit / palette / top-down BMP; II / MM, gray / RGB, single /
# multi-strip TIFF) so each layout branch runs inside the gate.
# ---------------------------------------------------------------------------

_BMP_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k, event_id % 256 AS v
  FROM events WHERE event_id % 20 = 13
)
SELECT id,
       CAST(8 AS INT) AS width,
       CAST(6 AS INT) AS height,
       CASE WHEN k % 3 = 1 THEN
         ROUND(CAST(v AS DOUBLE) * 0.299
               + CAST((2 * v) % 256 AS DOUBLE) * 0.587
               + CAST((3 * v) % 256 AS DOUBLE) * 0.114, 4)
       ELSE
         ROUND(CAST((id + 0) % 256 AS DOUBLE) * 0.299
               + CAST((id + 17) % 256 AS DOUBLE) * 0.587
               + CAST((id + 34) % 256 AS DOUBLE) * 0.114, 4)
       END AS luma_mean
FROM g
"""


@register("multimodal_bmp_decode", _BMP_SQL)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real BMP decode end-to-end: encode_bmp fixtures (24-bit BGR
    bottom-up, 8-bit palette, RLE8, 4-bit/1-bit packed, OS/2
    BITMAPCOREHEADER, top-down) → row-padding/direction/palette/
    sub-byte unpack handling → luma. One fused Arrow stage."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_bmp,
        encode_bmp,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 13
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                if k % 3 == 1:  # palette variants — all lossless, so
                    # the oracle is layout-independent: the flat image
                    # keeps its color whether the container is 8-bit,
                    # RLE8, 4-bit/1-bit packed or an OS/2 core header
                    v = e % 256
                    color = (v, (2 * v) % 256, (3 * v) % 256)
                    if k % 5 == 3:  # 4-bit packed (core on even k)
                        pal = np.zeros((16, 3), np.uint8)
                        pal[v % 16] = color
                        idx = np.full((6, 8), v % 16, np.uint8)
                        payloads.append(
                            encode_bmp(
                                idx, palette=pal, bpp=4,
                                core_header=(k % 2 == 0),
                            )
                        )
                    elif k % 5 == 4:  # 1-bit packed
                        pal = np.zeros((2, 3), np.uint8)
                        pal[v % 2] = color
                        idx = np.full((6, 8), v % 2, np.uint8)
                        payloads.append(
                            encode_bmp(idx, palette=pal, bpp=1)
                        )
                    else:  # 8-bit palette (RLE8 on every 2nd k)
                        pal = np.zeros((256, 3), np.uint8)
                        pal[:, 0] = np.arange(256)
                        pal[:, 1] = (2 * np.arange(256)) % 256
                        pal[:, 2] = (3 * np.arange(256)) % 256
                        idx = np.full((6, 8), v, np.uint8)
                        payloads.append(
                            encode_bmp(
                                idx, palette=pal,
                                compression=1 if k % 2 == 0 else 0,
                            )
                        )
                else:
                    px = np.zeros((6, 8, 3), np.uint8)
                    for c in range(3):
                        px[:, :, c] = (e + 17 * c) % 256
                    payloads.append(
                        encode_bmp(
                            px,
                            top_down=(k % 3 == 2),
                            core_header=(k % 3 == 0 and k % 7 == 2),
                        )
                    )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = decode_bmp(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "width": m["width"],
                        "height": m["height"],
                        "luma_mean": m["luma_mean"],
                    }
                )
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "luma_mean"]
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)), schema="id long, width int, height int, luma_mean double"
    )


_TIFF_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 19
)
SELECT id,
       CAST(7 AS INT) AS width,
       CAST(5 AS INT) AS height,
       CAST(CASE WHEN k % 3 = 0 THEN 1 ELSE 3 END AS INT) AS n_channels,
       CASE WHEN k % 3 = 0 THEN
         ROUND(CAST((id + 5) % 256 AS DOUBLE), 4)
       ELSE
         ROUND(CAST((id + 0) % 256 AS DOUBLE) * 0.299
               + CAST((id + 29) % 256 AS DOUBLE) * 0.587
               + CAST((id + 58) % 256 AS DOUBLE) * 0.114, 4)
       END AS luma_mean
FROM g
"""


@register("multimodal_tiff_decode", _TIFF_SQL)
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real baseline-TIFF decode end-to-end: encode_tiff fixtures
    (II/MM on k-parity, gray/RGB, multi-strip on k%2) → IFD walk +
    strip reassembly → luma. One fused Arrow stage."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_tiff,
        encode_tiff,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 19
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                order = "II" if k % 2 == 0 else "MM"
                rps = 2 if k % 2 == 1 else None
                if k % 3 == 0:
                    px = np.full((5, 7), (e + 5) % 256, np.uint8)
                else:
                    px = np.zeros((5, 7, 3), np.uint8)
                    for c in range(3):
                        px[:, :, c] = (e + 29 * c) % 256
                payloads.append(
                    encode_tiff(px, byte_order=order, rows_per_strip=rps)
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = decode_tiff(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "width": m["width"],
                        "height": m["height"],
                        "n_channels": m["n_channels"],
                        "luma_mean": m["luma_mean"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["id", "width", "height", "n_channels", "luma_mean"],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, width int, height int, n_channels int, "
            "luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# Compressed TIFF through the driver gate — scanned-document corpora
# are heavy with LZW, Deflate and PackBits strips (TIFF 6.0 §7/§9,
# TechNote 2), often LZW + Predictor 2 (horizontal differencing,
# §14). Fixtures rotate all three compressions plus the predictor on
# k%4, gray/RGB on k-parity, over a ramp image whose luma is
# closed-form (base + 11 for an 8x16 ramp) — so the oracle needs no
# codec at all, and a wrong LZW width change, zlib strip boundary or
# PackBits run would shift the mean.
# ---------------------------------------------------------------------------

_TIFF_COMPRESSED_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 10
)
SELECT id,
       CAST(16 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(CASE WHEN k % 5 = 4 THEN 1
                 WHEN k % 2 = 0 THEN 1 ELSE 3 END AS INT) AS n_channels,
       CAST(CASE WHEN k % 5 = 4 THEN 4 ELSE
            CASE k % 4 WHEN 0 THEN 5 WHEN 1 THEN 32773
                       WHEN 2 THEN 5 ELSE 8 END END AS INT) AS compression,
       CAST(CASE WHEN k % 5 <> 4 AND k % 4 = 2 THEN 2 ELSE 1 END
            AS INT) AS predictor,
       CASE WHEN k % 5 = 4 THEN
         -- G4 bilevel: black bar over the first id%17 of 16 columns;
         -- white = 255, mean is dyadic (x/16) so ROUND is a no-op
         ROUND(255.0 * (16 - id % 17) / 16.0, 4)
       WHEN k % 2 = 0 THEN
         -- k%7==5 gray rows carry 16-bit samples scaled by 257
         -- (exact in double: integer pixels, dyadic mean)
         ROUND((CAST(id % 100 AS DOUBLE) + 11.0)
               * CASE WHEN k % 7 = 5 THEN 257 ELSE 1 END, 4)
       ELSE
         ROUND((CAST(id % 100 AS DOUBLE) + 11) * 0.299
               + (CAST((id + 31) % 100 AS DOUBLE) + 11) * 0.587
               + (CAST((id + 62) % 100 AS DOUBLE) + 11) * 0.114, 4)
       END AS luma_mean
FROM g
"""


# ---------------------------------------------------------------------------
# TILED TIFF through the driver gate (r12, TIFF 6.0 §15): archival
# scans tile rather than strip. Fixtures rotate LZW / PackBits /
# Deflate / LZW+Predictor-2 / 16-bit / CCITT-G4 over a 40x24 ramp
# with 16x16 or 32x16 tiles — neither dimension divides evenly, so
# every stream exercises padded edge tiles and the decoder's crop.
# Per-tile independent compression means a strip-shaped decode (one
# joined buffer) cannot reproduce the closed-form luma.
# ---------------------------------------------------------------------------

_TIFF_TILED_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 10
)
SELECT id,
       CAST(40 AS INT) AS width,
       CAST(24 AS INT) AS height,
       CAST(CASE WHEN k % 5 = 4 THEN 1
                 WHEN k % 2 = 0 THEN 1 ELSE 3 END AS INT) AS n_channels,
       CAST(CASE WHEN k % 5 = 4 THEN 4 ELSE
            CASE k % 4 WHEN 0 THEN 5 WHEN 1 THEN 32773
                       WHEN 2 THEN 8 ELSE 5 END END AS INT)
         AS compression,
       CAST(CASE WHEN k % 5 <> 4 AND k % 4 = 3 THEN 2 ELSE 1 END
            AS INT) AS predictor,
       CAST(TRUE AS BOOLEAN) AS tiled,
       CAST(CASE WHEN k % 3 = 0 THEN 32 ELSE 16 END AS INT) AS tile_w,
       CAST(16 AS INT) AS tile_h,
       CASE WHEN k % 5 = 4 THEN
         ROUND(255.0 * (40 - id % 41) / 40.0, 4)
       WHEN k % 2 = 0 THEN
         ROUND((CAST(id % 100 AS DOUBLE) + 31.0)
               * CASE WHEN k % 7 = 5 THEN 257 ELSE 1 END, 4)
       ELSE
         ROUND((CAST(id % 100 AS DOUBLE) + 31) * 0.299
               + (CAST((id + 31) % 100 AS DOUBLE) + 31) * 0.587
               + (CAST((id + 62) % 100 AS DOUBLE) + 31) * 0.114, 4)
       END AS luma_mean
FROM g
"""


@register("multimodal_tiff_tiled_decode", _TIFF_TILED_SQL)
def multimodal_tiff_tiled_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tiled-TIFF decode end-to-end: encode_tiff(tile_wh=...)
    fixtures rotating compression on k%4 (k%5==4 overrides to Group
    4 bilevel tiles), tile geometry 32x16/16x16 on k%3, gray/RGB on
    k-parity and 16-bit on k%7==5 → per-tile decompress + predictor
    undo + edge crop + luma against the strip queries' closed-form
    ramp oracle. One fused Arrow stage like every media gate."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_tiff,
        encode_tiff,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 10
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ramp = np.add.outer(
            np.arange(24, dtype=np.uint8), np.arange(40, dtype=np.uint8)
        )
        for pdf in batches:
            payloads, tws = [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                tw = 32 if k % 3 == 0 else 16
                tws.append(tw)
                order = "II" if k % 2 == 0 else "MM"
                if k % 5 == 4:  # G4 bilevel tiled scan
                    mask = np.zeros((24, 40), bool)
                    mask[:, : e % 41] = True
                    payloads.append(
                        encode_tiff(
                            mask, byte_order=order,
                            compression="g4", tile_wh=(tw, 16),
                        )
                    )
                    continue
                comp = ("lzw", "packbits", "deflate", "lzw")[k % 4]
                pred = 2 if k % 4 == 3 else 1
                if k % 2 == 0:
                    px = (ramp + e % 100).astype(np.uint8)
                    if k % 7 == 5:  # 16-bit archival variant
                        px = px.astype(np.uint16) * 257
                else:
                    px = np.zeros((24, 40, 3), np.uint8)
                    for c in range(3):
                        px[:, :, c] = ramp + (e + 31 * c) % 100
                payloads.append(
                    encode_tiff(
                        px, byte_order=order, compression=comp,
                        predictor=pred, tile_wh=(tw, 16),
                    )
                )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "tile_w": tws,
                    "payload": payloads,
                }
            )

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, tw, blob in zip(
                pdf["id"], pdf["tile_w"], pdf["payload"]
            ):
                m = decode_tiff(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "width": m["width"],
                        "height": m["height"],
                        "n_channels": m["n_channels"],
                        "compression": m["compression"],
                        "predictor": m["predictor"],
                        "tiled": m["tiled"],
                        "tile_w": tw,
                        "tile_h": 16,
                        "luma_mean": m["luma_mean"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "n_channels",
                    "compression", "predictor", "tiled", "tile_w",
                    "tile_h", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, width int, height int, n_channels int, "
            "compression int, predictor int, tiled boolean, "
            "tile_w int, tile_h int, luma_mean double"
        ),
    )


@register("multimodal_tiff_compressed_decode", _TIFF_COMPRESSED_SQL)
def multimodal_tiff_compressed_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LZW / PackBits / LZW+Predictor-2 / Deflate / CCITT-G4 TIFF
    decode end-to-end: encode_tiff fixtures rotating compression on
    k%4 (k%5==4 overrides to Group 4 bilevel — T.6 MMR strips, the
    scanned-archive layout), II/MM byte order and multi-strip layout
    on k-parity → strip decompress (or MMR row decode with per-strip
    reference reset) + predictor undo + luma. The
    compression/predictor columns replay the encoder's own IFD tags,
    proving which path ran. One fused Arrow stage like every media gate."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_tiff,
        encode_tiff,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 10
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ramp = np.add.outer(
            np.arange(8, dtype=np.uint8), np.arange(16, dtype=np.uint8)
        )
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                if k % 5 == 4:  # G4 bilevel scan variant
                    mask = np.zeros((8, 16), bool)
                    mask[:, : e % 17] = True
                    payloads.append(
                        encode_tiff(
                            mask,
                            byte_order="II" if k % 2 == 0 else "MM",
                            rows_per_strip=3 if k % 2 == 1 else None,
                            compression="g4",
                        )
                    )
                    continue
                comp = ("lzw", "packbits", "lzw", "deflate")[k % 4]
                pred = 2 if k % 4 == 2 else 1
                if k % 2 == 0:
                    px = (ramp + e % 100).astype(np.uint8)
                    if k % 7 == 5:  # 16-bit archival-scan variant
                        px = px.astype(np.uint16) * 257
                else:
                    px = np.zeros((8, 16, 3), np.uint8)
                    for c in range(3):
                        px[:, :, c] = ramp + (e + 31 * c) % 100
                payloads.append(
                    encode_tiff(
                        px,
                        byte_order="II" if k % 2 == 0 else "MM",
                        rows_per_strip=3 if k % 2 == 1 else None,
                        compression=comp,
                        predictor=pred,
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def meta(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                m = decode_tiff(bytes(blob))
                rows.append(
                    {
                        "id": rid,
                        "width": m["width"],
                        "height": m["height"],
                        "n_channels": m["n_channels"],
                        "compression": m["compression"],
                        "predictor": m["predictor"],
                        "luma_mean": m["luma_mean"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "n_channels",
                    "compression", "predictor", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: meta(synth(it)),
        schema=(
            "id long, width int, height int, n_channels int, "
            "compression int, predictor int, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# Orientation-normalized pHash dedup — the composition the EXIF layer
# exists FOR: a rotated re-post fingerprints differently on raw
# pixels, so orientation must be applied BEFORE pHash. Fixtures store
# each class's image PRE-rotated (the inverse transform) with the
# matching EXIF orientation tag in a REAL JPEG; decode → orient-back
# → pHash groups all four orientations of a class to one fingerprint
# (verified exactly: the all-ones quantization table keeps the
# orient-encode-decode-orient chain hash-stable, and the ten classes
# are pairwise distinct — both pinned in tests). The oracle replays
# the class arithmetic with two windows.
# ---------------------------------------------------------------------------

_ORIENT_DEDUP_SQL = """
WITH g AS (
  SELECT event_id AS id, (event_id // 20) % 10 AS c
  FROM events WHERE event_id % 20 = 5
)
SELECT id,
       MIN(id) OVER (PARTITION BY c) AS group_id,
       CAST(COUNT(*) OVER (PARTITION BY c) AS INT) AS n_in_group
FROM g
"""


@register("image_orientation_dedup", _ORIENT_DEDUP_SQL)
def image_orientation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF-aware perceptual dedup end-to-end: real JPEG + APP1
    fixtures (image pre-rotated by the tag's inverse) → decode →
    apply_exif_orientation → phash64 → hash groupBy. Without the
    orientation step, the four rotations of a class would land in
    four different groups — which is exactly the failure mode this
    pipeline stage removes."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.exif import (
        apply_exif_orientation,
        build_exif_app1,
        parse_exif,
        with_exif,
    )
    from ccgp_data_wrangling_spark.operators.media_codecs import (
        _decode_jpeg_pixels,
        encode_jpeg,
        phash64,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 5
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    _INV = {1: 1, 3: 3, 6: 8, 8: 6}

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                c = k % 10
                o = (1, 3, 6, 8)[k % 4]
                i, j = np.mgrid[0:16, 0:16]
                base = (
                    ((i // (1 + c % 4) + j // (1 + c // 4)) % 2) * 200
                    + 5 * c
                ).astype(np.uint8)
                stored = apply_exif_orientation(base, _INV[o])
                payloads.append(
                    with_exif(
                        encode_jpeg(stored),
                        build_exif_app1(orientation=o),
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def fingerprint(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                data = bytes(blob)
                o = parse_exif(data)["orientation"]
                px = apply_exif_orientation(_decode_jpeg_pixels(data), o)
                rows.append({"id": rid, "ph": phash64(px)})
            yield pd.DataFrame(rows, columns=["id", "ph"])

    fps = ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: fingerprint(synth(it)), schema="id long, ph long")
    from pyspark.sql import Window

    w = Window.partitionBy("ph")
    return fps.select(
        "id",
        F.min("id").over(w).alias("group_id"),
        F.count(F.lit(1)).over(w).cast("int").alias("n_in_group"),
    )


# ---------------------------------------------------------------------------
# Encrypted-image extraction through the driver gate — the round-8
# composition gap closed: image XObject streams decrypt with the same
# per-object keys as content streams (ISO 32000 §7.6.2), so figure
# mining works on password-protected corpora. The cipher rotates per
# doc (RC4-40 / RC4-128 / AES-128 / AES-256 R6); images are FLAT so
# every luma is the same closed form pdf_image_extract pins — crypto
# is lossless and a wrong key fails loudly (AES padding / zlib
# checksum), so the oracle needs no crypto at all.
# ---------------------------------------------------------------------------

_PDF_ENC_IMG_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 11
)
SELECT id,
       CAST(0 AS INT) AS idx,
       CAST(k % 4 AS INT) AS cipher,
       CAST(8 * ((k % 3) + 1) AS INT) AS width,
       CAST(8 * ((k % 2) + 1) AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       'jpeg' AS codec,
       ROUND(CAST(id % 200 + 20 AS DOUBLE), 4) AS luma_mean
FROM g
UNION ALL
SELECT id,
       CAST(1 AS INT) AS idx,
       CAST(k % 4 AS INT) AS cipher,
       CAST(7 AS INT) AS width,
       CAST(5 AS INT) AS height,
       CAST(3 AS INT) AS n_channels,
       'raw' AS codec,
       ROUND(CAST(id % 256 AS DOUBLE) * 0.299
             + CAST((id + 31) % 256 AS DOUBLE) * 0.587
             + CAST((id + 62) % 256 AS DOUBLE) * 0.114, 4) AS luma_mean
FROM g WHERE k % 2 = 0
"""


@register("pdf_encrypted_image_extract", _PDF_ENC_IMG_SQL)
def pdf_encrypted_image_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Image extraction from ENCRYPTED PDFs end-to-end:
    build_pdf_encrypted fixtures carrying image XObjects (per-object
    RC4/AES stream encryption over the JPEG / Flate-raw payloads) →
    password verify → per-object key derivation → decrypt →
    pdf_images' codec walk → one row per image. The V5 docs share
    credentials so the R6 KDF amortizes via lru_cache, and AES-CBC
    decryption runs the equivalent-inverse-cipher T-tables
    (pdf_crypt._decrypt_block) — per-doc marginal cost is the stream
    bytes, not the KDF."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        encode_jpeg,
    )
    from ccgp_data_wrangling_spark.sources.pdf import (
        build_pdf_encrypted,
        pdf_images,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 11
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, ciphers = [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                w, h = 8 * (k % 3 + 1), 8 * (k % 2 + 1)
                gray = np.full((h, w), e % 200 + 20, np.uint8)
                imgs = [("dct", encode_jpeg(gray), w, h, 1)]
                if k % 2 == 0:
                    rgb = np.zeros((5, 7, 3), np.uint8)
                    for c in range(3):
                        rgb[:, :, c] = (e + 31 * c) % 256
                    imgs.append(("flate", rgb))
                kw = (
                    dict(v=1),
                    dict(v=2, r=3),
                    dict(v=4, r=4, aes=True),
                    dict(v=5, r=6),
                )[k % 4]
                payloads.append(
                    build_pdf_encrypted(
                        [[f"secure figure {e}"]],
                        user_pw=b"corpus",
                        page_images=[imgs],
                        **kw,
                    )
                )
                ciphers.append(k % 4)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "cipher": ciphers,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, ciph, blob in zip(
                pdf["id"], pdf["cipher"], pdf["payload"]
            ):
                for j, r in enumerate(
                    pdf_images(bytes(blob), password=b"corpus")
                ):
                    rows.append(
                        {
                            "id": rid,
                            "idx": j,
                            "cipher": ciph,
                            "width": r["width"],
                            "height": r["height"],
                            "n_channels": r["n_channels"],
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "idx", "cipher", "width", "height",
                    "n_channels", "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, idx int, cipher int, width int, height int, "
            "n_channels int, codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# G4 scanned-document image extraction through the driver gate — the
# single biggest real-corpus PDF class: bitonal scans compressed with
# CCITT Group 4 (/CCITTFaxDecode, /K -1 — ISO 32000 §7.4.6, ITU-T
# T.6). Fixtures paint a black bar over the first id%25 of 24
# columns, so the luma is the closed form 255·(24-m)/24 and the
# oracle needs no codec; a decoder that mis-reads any mode code or
# T.4 run table shifts the black count and breaks the hash.
# ---------------------------------------------------------------------------

_PDF_G4_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 13
)
SELECT id,
       CAST(24 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       CASE WHEN k % 4 = 0 THEN 'g4'
            WHEN k % 4 = 3 THEN 'g3_2d'
            ELSE 'g3' END AS codec,
       ROUND(255.0 * (24 - id % 25) / 24.0, 4) AS luma_mean
FROM g
"""


@register("pdf_g4_image_extract", _PDF_G4_SQL)
def pdf_g4_image_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCITT fax image extraction end-to-end: build_pdf fixtures
    embedding /CCITTFaxDecode image XObjects over a deterministic
    bitonal bar mask, the coding rotating on k%4 — Group 4 (/K -1,
    T.6 MMR against the row above), Group 3 one-dimensional (/K 0,
    pure T.4 MH runs), G3 with /EncodedByteAlign rows, and T.4
    MIXED one/two-dimensional (/K 4: EOL + tag bit per row, a 1-D
    row leading every group of four — what real scanned faxes
    predominantly carry) — → object scan → fax decode →
    black-fraction luma. The from-scratch codecs live in
    operators/media_codecs (decode_ccitt_g4 / decode_ccitt_mh /
    decode_ccitt_g3_mixed, sharing the transcribed T.4 run tables
    and the G4 2-D row machinery); one fused Arrow stage as in every
    media gate."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 13
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                mask = np.zeros((16, 24), bool)
                mask[:, : e % 25] = True
                spec = ("g4", "g3", "g3a", "g3_2d")[k % 4]
                payloads.append(
                    build_pdf(
                        [[f"scanned sheet {e}"]],
                        page_images=[[(spec, mask)]],
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "n_channels": r["n_channels"],
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "n_channels", "codec",
                    "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, n_channels int, "
            "codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# JBIG2 scanned-document image extraction through the driver gate —
# the OTHER bitonal scan codec besides CCITT fax (ISO 32000 §7.4.7,
# ITU-T T.88): an embedded segment stream of page-info + generic
# regions coded with the MQ arithmetic coder (or MMR = T.6). The
# rotation covers all four GB templates, TPGDON typical-prediction
# rows, and the MMR branch; fixtures paint the same closed-form bar
# as the G4 family so the oracle needs no codec — any mis-decoded
# context tap, Qe transition, or SLTP row shifts the black count and
# breaks the hash.
# ---------------------------------------------------------------------------

_PDF_JBIG2_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 6
)
SELECT id,
       CAST(24 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CASE k % 5 WHEN 0 THEN 't0' WHEN 1 THEN 't1_unklen'
                  WHEN 2 THEN 't2_tpgdon' WHEN 3 THEN 't3_tpgdon'
                  ELSE 'mmr' END AS variant,
       CAST('jbig2' AS VARCHAR) AS codec,
       ROUND(255.0 * (24 - id % 25) / 24.0, 4) AS luma_mean
FROM g
"""


@register("pdf_jbig2_image_extract", _PDF_JBIG2_SQL)
def pdf_jbig2_image_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JBIG2 image extraction end-to-end: build_pdf fixtures embed
    /JBIG2Decode XObjects whose payload is a real T.88 embedded
    segment stream (page information + immediate lossless generic
    region + end of page) built by operators/jbig2.build_jbig2_embedded
    — the MQ arithmetic coder (T.88 Annex E) run forward over the
    §6.2.5.7 context model. The k%5 rotation exercises GB template 0
    (16-bit contexts, 4 AT pixels), template 1 under the §7.2.7
    unknown-length carriage (0xFFFFFFFF header length AND region
    height, true row count after the 0xFF 0xAC terminator — the
    live-producer layout), templates 2/3 with TPGDON
    typical-prediction rows, and MMR=1 (T.6 coding via the shared
    CCITT machinery). pdf_images walks the objects, decodes
    the page bitmap, and reports the black-fraction luma; two Arrow
    stages as in every media gate. Reference N/A (north-star
    multimodal surface; the reference has no image pipeline)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 6
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    _VARIANTS = (
        ("t0", {"template": 0}),
        ("t1_unklen", {"template": 1, "unknown_length": True}),
        ("t2_tpgdon", {"template": 2, "tpgdon": True}),
        ("t3_tpgdon", {"template": 3, "tpgdon": True}),
        ("mmr", {"mmr": True}),
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, variants = [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                mask = np.zeros((16, 24), bool)
                mask[:, : e % 25] = True
                name, opts = _VARIANTS[k % 5]
                payloads.append(
                    build_pdf(
                        [[f"jbig2 scan {e}"]],
                        page_images=[[("jbig2", mask, opts)]],
                    )
                )
                variants.append(name)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "variant": variants,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, var, blob in zip(
                pdf["id"], pdf["variant"], pdf["payload"]
            ):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "variant": var,
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "variant", "codec",
                    "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, variant string, "
            "codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# PDF bit-depth breadth through the driver gate — real PDFs carry
# grayscale images at 1/2/4 bits (packed MSB-first, rows padded to
# bytes, §8.9.5.1) and 16 bits (big-endian), and invert the sample
# scale with a /Decode [1 0] array (§8.9.5.2). The fixture ramp
# (id + x²) mod 2^bpc makes the mean id-dependent at every depth, so
# the oracle replays it with a generate_series over the row — a bit
# mis-packed at any depth, or /Decode applied at the wrong point,
# shifts the luma.
# ---------------------------------------------------------------------------

_PDF_BPC_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 4
),
p AS (
  SELECT id, k,
         CASE k % 4 WHEN 0 THEN 1 WHEN 1 THEN 2
                    WHEN 2 THEN 4 ELSE 16 END AS bpc,
         CASE k % 4 WHEN 0 THEN 1 WHEN 1 THEN 3
                    WHEN 2 THEN 15 ELSE 65535 END AS maxval,
         (k // 4) % 2 = 1 AS inv
  FROM g
),
m AS (
  SELECT p.id, p.bpc, p.maxval, p.inv,
         AVG(CASE WHEN p.inv
             THEN p.maxval - (p.id + x.x * x.x) % (p.maxval + 1)
             ELSE (p.id + x.x * x.x) % (p.maxval + 1) END) AS mean_s
  FROM p, (SELECT UNNEST(generate_series(0, 23)) AS x) x
  GROUP BY 1, 2, 3, 4
)
SELECT id,
       CAST(24 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(bpc AS INT) AS bpc,
       inv AS inverted,
       CAST('raw' AS VARCHAR) AS codec,
       ROUND(mean_s * 255.0 / maxval, 4) AS luma_mean
FROM m
"""


@register("pdf_bpc_image_extract", _PDF_BPC_SQL)
def pdf_bpc_image_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bit-depth image extraction end-to-end: build_pdf embeds
    ("packed", ramp, bpc, invert) grayscale XObjects — 1/2/4-bit
    samples packed MSB-first with byte-padded rows, or 16-bit
    big-endian — behind /FlateDecode, with a full-range /Decode
    [1 0] array on the inverted rotation; pdf_images unpacks the
    planes, applies the inversion, and normalizes channel means to
    the 0-255 luma scale whatever the depth. All rows of a fixture
    share the (id + x²) mod 2^bpc ramp, so the oracle is one
    generate_series average per document."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 4
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, bpcs, invs = [], [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                bpc = (1, 2, 4, 16)[k % 4]
                inv = (k // 4) % 2 == 1
                xs = np.arange(24)
                row = (e + xs * xs) % (1 << bpc)
                arr = np.tile(row, (16, 1))
                payloads.append(
                    build_pdf(
                        [[f"depth ramp {e}"]],
                        page_images=[[("packed", arr, bpc, inv)]],
                    )
                )
                bpcs.append(bpc)
                invs.append(inv)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "bpc": bpcs,
                    "inverted": invs,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, bpc, inv, blob in zip(
                pdf["id"], pdf["bpc"], pdf["inverted"], pdf["payload"]
            ):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "bpc": bpc,
                            "inverted": inv,
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "bpc", "inverted",
                    "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, bpc int, "
            "inverted boolean, codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# JBIG2 SYMBOL/TEXT region extraction through the driver gate — the
# coding real scanned-PDF encoders emit for text areas (T.88 §6.4/
# §6.5): a symbol dictionary of glyph bitmaps (height-class delta
# coding, shared GB contexts) + a text region placing them by strip
# (IADT/IAFS/IADS/IAID integer-arithmetic procedures of Annex A).
# Every glyph carries exactly 5 black pixels, so the page luma is
# closed-form no matter which glyphs the rotation picks; k%4 rotates
# all four REFCORNER codings (same decoded page), k%2 adds a generic
# region to the same page (the mixed text+graphics layout of real
# scanner output).
# ---------------------------------------------------------------------------

_PDF_JBIG2_TEXT_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k, event_id % 4 + 2 AS n
  FROM events WHERE event_id % 20 = 8
)
SELECT id,
       CAST(32 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CASE k % 4 WHEN 0 THEN 'tl' WHEN 1 THEN 'bl'
                  WHEN 2 THEN 'tr' ELSE 'br' END AS refcorner,
       CAST((k // 4) % 2 = 1 AS BOOLEAN) AS transposed,
       CASE WHEN (k // 8) % 2 = 1 THEN 'huffman' ELSE 'arith' END
         AS dict_coding,
       CAST(k % 2 = 0 AS BOOLEAN) AS has_generic,
       CAST((k // 16) % 2 = 1 AND (k // 32) % 2 = 0 AS BOOLEAN)
         AS refined,
       CAST((k // 8) % 2 = 1 AND k % 2 = 1 AS BOOLEAN)
         AS custom_table,
       CASE WHEN (k // 32) % 2 = 1 THEN 'huffman' ELSE 'arith' END
         AS text_coding,
       CAST('jbig2' AS VARCHAR) AS codec,
       ROUND(255.0 * (512 - 5 * n
             - CASE WHEN k % 2 = 0 THEN 16 ELSE 0 END) / 512.0, 4)
         AS luma_mean
FROM g
"""


@register("pdf_jbig2_text_extract", _PDF_JBIG2_TEXT_SQL)
def pdf_jbig2_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JBIG2 symbol/text path end-to-end: build_jbig2_text_embedded
    writes a page-info + symbol-dictionary (type 0, export-all,
    height-class IADH/IADW deltas, per-glyph generic bitmaps over
    shared GB contexts) + immediate lossless text region (type 6,
    strip-decoded IADT/IAFS/IADS + IAID symbol codes) stream;
    build_pdf embeds it behind /JBIG2Decode and pdf_images decodes
    the composed page. Fixtures place n = id%4+2 five-pixel glyphs
    at non-overlapping spots — glyph CHOICE varies with id but the
    black count doesn't, keeping the oracle closed-form; k%2 docs
    append a generic region to the same page so the multi-region
    composition path runs inside one image; (k//4)%2 rotates
    TRANSPOSED placement and (k//8)%2 the symbol-dictionary coding
    (arithmetic vs SDHUFF=1 Annex B standard tables with MMR
    collective bitmaps); (k//16)%2 docs re-code their first instance
    as an SBREFINE refinement (§6.4.11) of its glyph into a 4×4
    pattern that ALSO carries exactly 5 black pixels — the luma stays
    closed-form while a refinement decode slip corrupts the count;
    huffman docs with k%2==1 route their width deltas through a
    referred CUSTOM type-53 Annex B table (selector 3); (k//32)%2
    docs code the TEXT REGION itself with SBHUFF=1 (runcode
    symbol-ID table + custom FS/DS/DT tables — three more referred
    type-53 segments), which excludes the refined rotation (the
    fixture encoder does not combine them). Annex A integer coders
    and the Annex E MQ coder are from-scratch (operators/jbig2.py)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.jbig2 import (
        build_jbig2_text_embedded,
    )
    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 8
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    _GLYPHS = (
        np.array([[1, 0, 1], [0, 1, 0], [1, 0, 1]], bool),  # X
        np.array([[0, 1, 0], [1, 1, 1], [0, 1, 0]], bool),  # +
        np.array([[1, 1, 1], [0, 1, 0], [0, 1, 0]], bool),  # T
    )
    _RC = ("tl", "bl", "tr", "br")
    # SBREFINE output pattern: 4×4 with EXACTLY 5 black pixels, same
    # count as every glyph, so refined pages keep the closed-form luma
    _REFINED_BM = np.zeros((4, 4), bool)
    _REFINED_BM[0, 0] = _REFINED_BM[1, 2] = _REFINED_BM[2, 1] = True
    _REFINED_BM[2, 3] = _REFINED_BM[3, 0] = True
    _CUSTOM_DW_SPEC = {
        "htlow": 0, "hthigh": 8, "lines": [(1, 3)],
        "lower_pref": 3, "upper_pref": 3, "oob_pref": 2,
    }

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, rcs, tps, dcs, gens = [], [], [], [], []
            refs, customs, tcs = [], [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                n = e % 4 + 2
                insts: list = [
                    ((e + i) % 3, 1 + 6 * i, 2 + ((e + i) % 2) * 8)
                    for i in range(n)
                ]
                huff_text = (k // 32) % 2 == 1
                refined = (k // 16) % 2 == 1 and not huff_text
                if refined:
                    sid, x0, y0 = insts[0]
                    insts[0] = (
                        sid, x0, y0,
                        {
                            "bitmap": _REFINED_BM,
                            "rdx": e % 3 - 1,
                            "rdy": (e // 3) % 3 - 1,
                        },
                    )
                rc = _RC[k % 4]
                tp = (k // 4) % 2 == 1
                huff = (k // 8) % 2 == 1
                custom = huff and k % 2 == 1
                extra = (
                    (np.ones((4, 4), bool), 28, 12)
                    if k % 2 == 0
                    else None
                )
                stream = build_jbig2_text_embedded(
                    list(_GLYPHS), insts, (32, 16),
                    template=k % 3, refcorner=rc,
                    extra_generic=extra, transposed=tp,
                    huffman_dict=huff,
                    custom_dw_spec=_CUSTOM_DW_SPEC if custom else None,
                    huffman_text=huff_text,
                )
                payloads.append(
                    build_pdf(
                        [[f"jbig2 text {e}"]],
                        page_images=[[("jbig2_stream", stream, 32, 16)]],
                    )
                )
                rcs.append(rc)
                tps.append(tp)
                dcs.append("huffman" if huff else "arith")
                gens.append(k % 2 == 0)
                refs.append(refined)
                customs.append(custom)
                tcs.append("huffman" if huff_text else "arith")
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "refcorner": rcs,
                    "transposed": tps,
                    "dict_coding": dcs,
                    "has_generic": gens,
                    "refined": refs,
                    "custom_table": customs,
                    "text_coding": tcs,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, rc, tp, dc, hg, rf, ct, tc, blob in zip(
                pdf["id"], pdf["refcorner"], pdf["transposed"],
                pdf["dict_coding"], pdf["has_generic"],
                pdf["refined"], pdf["custom_table"],
                pdf["text_coding"], pdf["payload"],
            ):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "refcorner": rc,
                            "transposed": tp,
                            "dict_coding": dc,
                            "has_generic": hg,
                            "refined": rf,
                            "custom_table": ct,
                            "text_coding": tc,
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "refcorner",
                    "transposed", "dict_coding", "has_generic",
                    "refined", "custom_table", "text_coding",
                    "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, refcorner string, "
            "transposed boolean, dict_coding string, "
            "has_generic boolean, refined boolean, "
            "custom_table boolean, text_coding string, "
            "codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# JBIG2 HALFTONE region extraction through the driver gate — the
# grayscale-stamping path scanners use for dithered photo areas
# (T.88 §6.6/§6.7): a pattern dictionary decoded as ONE collective
# generic bitmap (A1 = (−HDPW, 0)), a gray-scale index image decoded
# as Annex C.5 Gray-coded bitplanes, and grid stamping. Patterns form
# a density ramp (pattern i has exactly i black pixels), so the page
# black count is literally the SUM of the gray image — the oracle
# replays the fixture's gray arithmetic in SQL, and any bitplane /
# Gray-unfold / stamping error shifts the count.
# ---------------------------------------------------------------------------

_PDF_JBIG2_HALFTONE_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 16
)
SELECT id,
       CAST(32 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(k % 3 AS INT) AS template,
       CAST((k // 3) % 2 = 1 AS BOOLEAN) AS enableskip,
       CAST('jbig2' AS VARCHAR) AS codec,
       ROUND(255.0 * (512 - (60 + (id + 3) % 5 + id % 5)) / 512.0, 4)
         AS luma_mean
FROM g
"""


# ---------------------------------------------------------------------------
# JBIG2 HMMR halftone through the driver gate (r12): the MMR-coded
# gray-scale variant (T.88 §6.6 with HMMR=1 / Annex C.5) — all
# Gray-coded bitplanes in ONE bit-concatenated, EOFB-separated T.6
# block, resuming mid-byte between planes — plus HDMMR pattern
# dictionaries (the collective bitmap as a single T.6 block). The
# same density-ramp closed form as the arithmetic halftone gate: a
# plane-resume slip or Gray-unfold error shifts the black count.
# ---------------------------------------------------------------------------

_PDF_JBIG2_HMMR_SQL = """
WITH g AS (
  SELECT event_id AS id FROM events WHERE event_id % 20 = 16
)
SELECT id,
       CAST(32 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST('mmr' AS VARCHAR) AS gray_coding,
       CAST('jbig2' AS VARCHAR) AS codec,
       ROUND(255.0 * (512 - (60 + (id + 3) % 5 + id % 5)) / 512.0, 4)
         AS luma_mean
FROM g
"""


@register("pdf_jbig2_hmmr_halftone_extract", _PDF_JBIG2_HMMR_SQL)
def pdf_jbig2_hmmr_halftone_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HMMR halftone path end-to-end: build_jbig2_halftone_embedded
    with mmr=True writes an HDMMR pattern dictionary and an HMMR
    halftone region whose bitplanes live in one EOFB-separated T.6
    block; build_pdf embeds the stream behind /JBIG2Decode. The 4×8
    gray grid is ``(id + 7·idx + 3) % 5`` over the 5-pattern density
    ramp — black count 60 + (id+3)%5 + id%5 in closed form, the
    arithmetic sibling's oracle."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.jbig2 import (
        build_jbig2_halftone_embedded,
    )
    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 16
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    _PATS = []
    for i in range(5):
        p = np.zeros(16, bool)
        p[:i] = True
        _PATS.append(p.reshape(4, 4))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                gray = (np.arange(32).reshape(4, 8) * 7 + e + 3) % 5
                stream = build_jbig2_halftone_embedded(
                    gray, _PATS, page_wh=(32, 16), mmr=True,
                )
                payloads.append(
                    build_pdf(
                        [[f"jbig2 hmmr {e}"]],
                        page_images=[[("jbig2_stream", stream, 32, 16)]],
                    )
                )
            yield pd.DataFrame(
                {"id": pdf["id"].values, "payload": payloads}
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "gray_coding": "mmr",
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "gray_coding", "codec",
                    "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, gray_coding string, "
            "codec string, luma_mean double"
        ),
    )


@register("pdf_jbig2_halftone_extract", _PDF_JBIG2_HALFTONE_SQL)
def pdf_jbig2_halftone_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JBIG2 halftone path end-to-end: build_jbig2_halftone_embedded
    writes page-info + pattern-dictionary (type 16, the collective
    bitmap with its long-reach A1 adaptive pixel) + immediate
    lossless halftone region (type 23: Gray-coded bitplanes over one
    shared coder, 8.8 fixed-point grid stamping) streams; build_pdf
    embeds them behind /JBIG2Decode and pdf_images decodes the page.
    The 4×8 gray grid is ``(id + 7·idx + 3) % 5`` over a 5-pattern
    density ramp, so the black count is 60 + (id+3)%5 + id%5 in
    closed form (the 7·idx term walks all residues mod 5 per block of
    five cells); k%3 rotates the bitplane coding template, and
    (k//3)%2 docs widen the grid to 4×9 with HENABLESKIP on — the
    ninth column stamps at x=32, entirely outside the 32-wide
    region, so its cells carry NO coded bits (gray forced 0) and the
    closed-form luma is unchanged while the USESKIP context path
    provably executes."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.jbig2 import (
        build_jbig2_halftone_embedded,
    )
    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 16
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    _PATS = []
    for i in range(5):
        p = np.zeros(16, bool)
        p[:i] = True
        _PATS.append(p.reshape(4, 4))

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, templates, skips = [], [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                gray = (np.arange(32).reshape(4, 8) * 7 + e + 3) % 5
                skip = (k // 3) % 2 == 1
                if skip:
                    gray = np.concatenate(
                        [gray, np.zeros((4, 1), gray.dtype)], axis=1
                    )
                stream = build_jbig2_halftone_embedded(
                    gray, _PATS, page_wh=(32, 16), template=k % 3,
                    enable_skip=skip,
                )
                payloads.append(
                    build_pdf(
                        [[f"jbig2 halftone {e}"]],
                        page_images=[[("jbig2_stream", stream, 32, 16)]],
                    )
                )
                templates.append(k % 3)
                skips.append(skip)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "template": templates,
                    "enableskip": skips,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, tmpl, sk, blob in zip(
                pdf["id"], pdf["template"], pdf["enableskip"],
                pdf["payload"],
            ):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "template": tmpl,
                            "enableskip": sk,
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "template", "enableskip",
                    "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, template int, "
            "enableskip boolean, codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# JBIG2 REFINEMENT region extraction through the driver gate — the
# last region family (T.88 §6.3): a generic region lays down a coarse
# bar, then an immediate lossless refinement region re-codes the page
# box against that content (REPLACE composition) into the true page —
# first row inverted, last row cleared. Any error in the 13/10-bit
# refinement contexts, the TPGRON typical-pixel copy, or the
# composition ORDER (the reference is the page AFTER the base region)
# shifts the black count away from the closed form 24 + 13·(id%25).
# ---------------------------------------------------------------------------

_PDF_JBIG2_REFINE_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 18
)
SELECT id,
       CAST(24 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(k % 2 AS INT) AS gr_template,
       CAST(k % 4 >= 2 AS BOOLEAN) AS tpgron,
       CAST('jbig2' AS VARCHAR) AS codec,
       ROUND(255.0 * (384 - (24 + 13 * (id % 25))) / 384.0, 4)
         AS luma_mean
FROM g
"""


@register("pdf_jbig2_refine_extract", _PDF_JBIG2_REFINE_SQL)
def pdf_jbig2_refine_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JBIG2 refinement path end-to-end: build_jbig2_refined_embedded
    writes page-info + generic base region + immediate lossless
    refinement region (type 43, §7.4.7.2's no-referred-segment case:
    the reference is the page content under the box at that point of
    the segment sequence) streams; build_pdf embeds them behind
    /JBIG2Decode and pdf_images decodes the refined page. The base is
    the b = id%25 column bar; the target inverts row 0 and clears row
    15, so black = (24−b) + 14·b + 0 = 24 + 13·b in closed form. k
    rotates GRTEMPLATE 0/1 and TPGRON."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.jbig2 import (
        build_jbig2_refined_embedded,
    )
    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 18
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, tmpls, tps = [], [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                base = np.zeros((16, 24), bool)
                base[:, : e % 25] = True
                target = base.copy()
                target[0] = ~target[0]
                target[15] = False
                tmpl, tp = k % 2, k % 4 >= 2
                stream = build_jbig2_refined_embedded(
                    base, target, template=tmpl, tpgron=tp,
                    gen_template=k % 3,
                )
                payloads.append(
                    build_pdf(
                        [[f"jbig2 refine {e}"]],
                        page_images=[[("jbig2_stream", stream, 24, 16)]],
                    )
                )
                tmpls.append(tmpl)
                tps.append(tp)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "gr_template": tmpls,
                    "tpgron": tps,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, tmpl, tp, blob in zip(
                pdf["id"], pdf["gr_template"], pdf["tpgron"],
                pdf["payload"],
            ):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "gr_template": tmpl,
                            "tpgron": tp,
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "gr_template", "tpgron",
                    "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, gr_template int, "
            "tpgron boolean, codec string, luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# MP3 Layer III SHORT BLOCKS through the driver gate — transients in
# real music switch to block_type 2: 12 scalefactor bands × 3 windows
# (slen1/slen2 halves), a window-interleaved spectrum and per-window
# subblock_gain in the requant exponent, NO preemphasis
# (§2.4.2.7 / §2.4.3.4.10). Fixture granules are event_id arithmetic,
# so the oracle replays the short requantization chain in SQL with
# the Table B.8 short boundaries inlined; the window of a decoded
# line falls out of the interleaved layout ((i − 3·lo) // width).
# ---------------------------------------------------------------------------

_MP3_SHORT_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 15
),
gr AS (
  SELECT id, k, UNNEST([0, 1]) AS granule FROM g
),
p AS (
  SELECT id, k, granule,
         2 + id % 3 AS np, 1 + k % 2 AS nq,
         140 + id % 50 + 10 * granule AS gg,
         (k // 2) % 2 AS scale
  FROM gr
),
lines AS (
  SELECT p.*, UNNEST(generate_series(0, 2 * np + 4 * nq - 1)) AS line
  FROM p
),
vals AS (
  SELECT *, CASE
      WHEN line < 2 * np THEN ((line * 7 + id + granule) % 5) - 2
      ELSE ((id + line + granule) % 3) - 1
    END AS c
  FROM lines
),
bands AS (
  -- Table B.8 short, 44.1 kHz: 13 bands per window
  SELECT * FROM (VALUES
    (0,0,4),(1,4,8),(2,8,12),(3,12,16),(4,16,22),(5,22,30),
    (6,30,40),(7,40,52),(8,52,66),(9,66,84),(10,84,106),
    (11,106,136),(12,136,192)
  ) AS b(sfb, lo, hi)
),
placed AS (
  SELECT v.*, b.sfb, b.hi - b.lo AS width,
         CAST((v.line - 3 * b.lo) // (b.hi - b.lo) AS INT) AS win
  FROM vals v
  JOIN bands b ON v.line >= 3 * b.lo AND v.line < 3 * b.hi
),
agg AS (
  SELECT id, granule, sfb, win,
         CAST(SUM(CASE WHEN c <> 0 THEN 1 ELSE 0 END) AS INT) AS nnz,
         SUM(POWER(
           POWER(ABS(c), 4.0 / 3.0)
           * POWER(2.0, 0.25 * (gg - 210
                                - 8 * ((id + win + granule) % 8)))
           * POWER(2.0, -(0.5 * (scale + 1))
                   * ((id + sfb + win + granule) % 4)),
           2)) AS e
  FROM placed
  WHERE sfb < 12  -- transmitted bands; band 12's scalefactor is 0
  GROUP BY 1, 2, 3, 4
),
agg12 AS (  -- band 12 (untransmitted): scalefactor 0
  SELECT id, granule, sfb, win,
         CAST(SUM(CASE WHEN c <> 0 THEN 1 ELSE 0 END) AS INT) AS nnz,
         SUM(POWER(
           POWER(ABS(c), 4.0 / 3.0)
           * POWER(2.0, 0.25 * (gg - 210
                                - 8 * ((id + win + granule) % 8))),
           2)) AS e
  FROM placed WHERE sfb = 12
  GROUP BY 1, 2, 3, 4
),
allagg AS (SELECT * FROM agg UNION ALL SELECT * FROM agg12),
frame_grid AS (
  SELECT p.id, p.granule, b.sfb, b.hi - b.lo AS width, w.win
  FROM p CROSS JOIN bands b
  CROSS JOIN (SELECT UNNEST([0, 1, 2]) AS win) w
)
SELECT fg.id,
       CAST(0 AS INT) AS frame,
       CAST(fg.granule AS INT) AS granule,
       CAST(0 AS INT) AS channel,
       CAST(fg.sfb AS INT) AS sfb,
       CAST(fg.win AS INT) AS window,
       CAST(fg.width AS INT) AS width,
       CAST(COALESCE(a.nnz, 0) AS INT) AS n_nonzero,
       ROUND(SQRT(COALESCE(a.e, 0.0) / fg.width), 6) AS rms
FROM frame_grid fg
LEFT JOIN allagg a ON a.id = fg.id AND a.granule = fg.granule
                   AND a.sfb = fg.sfb AND a.win = fg.win
"""


@register("multimodal_mp3_shortblock_spectrum", _MP3_SHORT_SQL)
def multimodal_mp3_shortblock_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer III SHORT-BLOCK decode end-to-end: build_mp3_layer3
    fixtures with block_type 2 granules (12×3 short scalefactors
    under compress index 9, 3-bit subblock gains, table-3 pairs and
    A/B count1 quads planted by event arithmetic) →
    decode_mp3_layer3_spectrum → per-(band, window) RMS envelope at
    short-band granularity. Window interleaving and the
    per-window gain exponent are replayed exactly by the oracle."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3_layer3,
        decode_mp3_layer3_spectrum,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 15
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                np_, nq = 2 + e % 3, 1 + k % 2
                grans = []
                for gr in range(2):
                    pairs = [
                        (
                            ((2 * i) * 7 + e + gr) % 5 - 2,
                            ((2 * i + 1) * 7 + e + gr) % 5 - 2,
                        )
                        for i in range(np_)
                    ]
                    quads = [
                        tuple(
                            (e + (2 * np_ + 4 * j + q) + gr) % 3 - 1
                            for q in range(4)
                        )
                        for j in range(nq)
                    ]
                    grans.append(
                        dict(
                            global_gain=140 + e % 50 + 10 * gr,
                            scalefac_compress=9,
                            scalefac_short=[
                                [
                                    (e + b + w + gr) % 4
                                    for w in range(3)
                                ]
                                for b in range(12)
                            ],
                            block_type=2,
                            subblock_gain=[
                                (e + w + gr) % 8 for w in range(3)
                            ],
                            scalefac_scale=(k // 2) % 2,
                            table=3,
                            pairs=pairs,
                            quads=quads,
                            count1table="A" if gr == 0 else "B",
                        )
                    )
                payloads.append(build_mp3_layer3(granules=grans))
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in decode_mp3_layer3_spectrum(bytes(blob)):
                    rows.append({"id": rid, **r})
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "frame", "granule", "channel", "sfb",
                    "window", "width", "n_nonzero", "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, frame int, granule int, channel int, sfb int, "
            "window int, width int, n_nonzero int, rms double"
        ),
    )


# ---------------------------------------------------------------------------
# MP3 Layer III STEREO through the driver gate — real music is
# two-channel: the 32-byte side info carries per-(granule, channel)
# structs and the main data packs granule-major channel-minor; joint
# stereo applies the full-spectrum M/S matrix L=(M+S)/√2, R=(M−S)/√2
# (§2.4.3.4.9.2) and/or INTENSITY positions (§2.4.3.4.9.3): bands in
# the right channel's zero part carry is_pos in their scalefactors
# and the carrier spectrum splits L=xr·ρ/(1+ρ), R=xr/(1+ρ) with
# ρ=tan(is_pos·π/12); is_pos 7 is forbidden and falls back to M/S or
# L/R. The mode rotates on k%4 (plain LR / joint MS / joint IS /
# joint IS+MS — all four mode_extension values), and the oracle
# replays ALL of it: per-channel requantization with per-line SIGNED
# spectra, pivoted by channel, the right channel's zero-part boundary
# recomputed in SQL and each band matrixed per its classification.
# ---------------------------------------------------------------------------

_MP3_STEREO_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 16
),
gr AS (
  SELECT id, k, UNNEST([0, 1]) AS granule FROM g
),
p AS (
  SELECT id, k, granule, 1 + k % 3 AS nq,
         (k // 2) % 2 AS scale,
         CASE WHEN k % 4 IN (1, 3) THEN 1 ELSE 0 END AS ms,
         CASE WHEN k % 4 >= 2 THEN 1 ELSE 0 END AS iss
  FROM gr
),
chlines AS (
  SELECT p.*, c.ch,
         CASE WHEN p.iss = 1 AND c.ch = 0 THEN 24 + p.id % 3
              ELSE 3 + p.id % 3 END AS np,
         l.line
  FROM p
  CROSS JOIN (SELECT UNNEST([0, 1]) AS ch) c
  CROSS JOIN LATERAL (
    SELECT UNNEST(generate_series(
      0,
      2 * (CASE WHEN p.iss = 1 AND c.ch = 0 THEN 24 + p.id % 3
                ELSE 3 + p.id % 3 END) + 4 * p.nq - 1
    )) AS line
  ) l
),
bands AS (
  SELECT * FROM (VALUES
    (0,0,4),(1,4,8),(2,8,12),(3,12,16),(4,16,20),(5,20,24),
    (6,24,30),(7,30,36),(8,36,44),(9,44,52),(10,52,62),
    (11,62,74),(12,74,90),(13,90,110),(14,110,134),(15,134,162),
    (16,162,196),(17,196,238),(18,238,288),(19,288,342),
    (20,342,418),(21,418,576)
  ) AS b(sfb, lo, hi)
),
vals AS (
  SELECT cl.*, b.sfb, b.lo, b.hi, b.hi - b.lo AS width,
         CASE
           WHEN cl.line < 2 * cl.np
             THEN ((cl.line * (3 + cl.ch) + cl.id + cl.granule) % 5) - 2
           ELSE ((cl.id + cl.line + cl.granule + 2 * cl.ch) % 3) - 1
         END AS c,
         140 + cl.id % 40 + 10 * cl.granule + 5 * cl.ch AS gg
  FROM chlines cl
  JOIN bands b ON cl.line >= b.lo AND cl.line < b.hi
),
xr AS (
  SELECT *, SIGN(c)
         * POWER(ABS(c), 4.0 / 3.0)
         * POWER(2.0, 0.25 * (gg - 210))
         * POWER(2.0, -(0.5 * (scale + 1))
                 * (CASE WHEN iss = 1 AND ch = 1
                         THEN (id + sfb + granule) % 8
                         ELSE (id + sfb + granule + 2 * ch) % 4 END)) AS x
  FROM vals
),
zp AS (  -- right channel's zero-part start per (id, granule)
  SELECT id, granule,
         COALESCE(MAX(CASE WHEN ch = 1 AND c <> 0
                           THEN line + 1 END), 0) AS last_nz
  FROM vals GROUP BY 1, 2
),
pivoted AS (
  SELECT x.id, x.k, x.granule, x.ms, x.iss, x.line, x.sfb, x.lo,
         x.width, z.last_nz,
         MAX(CASE WHEN ch = 0 THEN x.x END) AS x0,
         MAX(CASE WHEN ch = 1 THEN x.x END) AS x1
  FROM xr x JOIN zp z ON z.id = x.id AND z.granule = x.granule
  GROUP BY 1, 2, 3, 4, 5, 6, 7, 8, 9, 10
),
classified AS (
  SELECT *,
         (id + sfb + granule) % 8 AS is_pos,
         CASE WHEN iss = 1 AND lo >= last_nz
                   AND (id + sfb + granule) % 8 <> 7
              THEN 1 ELSE 0 END AS is_band
  FROM pivoted
),
outch AS (
  SELECT id, granule, line, sfb, width, o.ch,
         CASE
           WHEN is_band = 1 AND o.ch = 0
             THEN COALESCE(x0, 0.0)
                  * (TAN(is_pos * PI() / 12)
                     / (1 + TAN(is_pos * PI() / 12)))
           WHEN is_band = 1
             THEN COALESCE(x0, 0.0)
                  * (1 / (1 + TAN(is_pos * PI() / 12)))
           WHEN ms = 1 AND o.ch = 0
             THEN (COALESCE(x0, 0.0) + COALESCE(x1, 0.0))
                  * POWER(2.0, -0.5)
           WHEN ms = 1
             THEN (COALESCE(x0, 0.0) - COALESCE(x1, 0.0))
                  * POWER(2.0, -0.5)
           WHEN o.ch = 0 THEN COALESCE(x0, 0.0)
           ELSE COALESCE(x1, 0.0) END AS v
  FROM classified CROSS JOIN (SELECT UNNEST([0, 1]) AS ch) o
),
agg AS (
  SELECT id, granule, ch, sfb,
         CAST(SUM(CASE WHEN v <> 0.0 THEN 1 ELSE 0 END) AS INT) AS nnz,
         SUM(POWER(v, 2)) AS e
  FROM outch GROUP BY 1, 2, 3, 4
),
grid AS (
  SELECT p.id, p.granule, c.ch, b.sfb, b.hi - b.lo AS width
  FROM p CROSS JOIN bands b
  CROSS JOIN (SELECT UNNEST([0, 1]) AS ch) c
)
SELECT grid.id,
       CAST(0 AS INT) AS frame,
       CAST(grid.granule AS INT) AS granule,
       CAST(grid.ch AS INT) AS channel,
       CAST(grid.sfb AS INT) AS sfb,
       CAST(-1 AS INT) AS window,
       CAST(grid.width AS INT) AS width,
       CAST(COALESCE(a.nnz, 0) AS INT) AS n_nonzero,
       ROUND(SQRT(COALESCE(a.e, 0.0) / grid.width), 6) AS rms
FROM grid
LEFT JOIN agg a ON a.id = grid.id AND a.granule = grid.granule
                AND a.ch = grid.ch AND a.sfb = grid.sfb
"""


@register("multimodal_mp3_stereo_spectrum", _MP3_STEREO_SQL)
def multimodal_mp3_stereo_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer III STEREO decode end-to-end: build_mp3_layer3 fixtures
    rotating ALL FOUR mode_extension values on k%4 (plain LR /
    joint MS / joint IS / joint IS+MS) with per-channel planted
    spectra (table-3 pairs, count1 quads, 21 scalefactors) →
    two-channel side-info walk → channel-minor main-data decode →
    requantize → per-band stereo processing: intensity bands (right
    channel's zero part, §2.4.3.4.9.3) split the carrier by
    tan(is_pos·π/12) with is_pos planted in the right channel's
    scalefactors (compress index 13 → %8, so the forbidden is_pos 7
    exercises the M/S / L-R fallback), the rest M/S-matrixed where
    mode_extension bit 1 demands → per-band RMS per output channel.
    Intensity rows give the LEFT channel ~8× the spectral reach so
    the projection lands on energized bands."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3_layer3,
        decode_mp3_layer3_spectrum,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 16
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                iss = k % 4 >= 2
                nq = 1 + k % 3
                grans = []
                for gr in range(2):
                    chans = []
                    for ch in range(2):
                        np_ = (
                            24 + e % 3 if iss and ch == 0
                            else 3 + e % 3
                        )
                        pairs = [
                            (
                                ((2 * i) * (3 + ch) + e + gr) % 5 - 2,
                                ((2 * i + 1) * (3 + ch) + e + gr) % 5
                                - 2,
                            )
                            for i in range(np_)
                        ]
                        quads = [
                            tuple(
                                (
                                    e + (2 * np_ + 4 * j + q)
                                    + gr + 2 * ch
                                ) % 3 - 1
                                for q in range(4)
                            )
                            for j in range(nq)
                        ]
                        chans.append(
                            dict(
                                global_gain=140 + e % 40
                                + 10 * gr + 5 * ch,
                                scalefac_compress=(
                                    13 if iss and ch == 1 else 9
                                ),
                                scalefac=[
                                    (e + b + gr) % 8
                                    if iss and ch == 1
                                    else (e + b + gr + 2 * ch) % 4
                                    for b in range(21)
                                ],
                                preflag=0,
                                scalefac_scale=(k // 2) % 2,
                                table=3,
                                pairs=pairs,
                                quads=quads,
                                count1table="A" if gr == 0 else "B",
                            )
                        )
                    grans.append(chans)
                mode = (
                    "stereo", "joint_ms", "joint_is", "joint_is_ms"
                )[k % 4]
                payloads.append(
                    build_mp3_layer3(granules=grans, mode=mode)
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in decode_mp3_layer3_spectrum(bytes(blob)):
                    rows.append({"id": rid, **r})
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "frame", "granule", "channel", "sfb",
                    "window", "width", "n_nonzero", "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, frame int, granule int, channel int, sfb int, "
            "window int, width int, n_nonzero int, rms double"
        ),
    )


# ---------------------------------------------------------------------------
# WebM keyframe ranges through the driver gate — the EBML half of
# real web video (RFC 8794 + Matroska): Segment → Tracks → Cluster →
# SimpleBlock / BlockGroup walk, surfacing per-block keyframe flags
# and byte ranges with NO codec, the same screening shape as
# multimodal_mp4_keyframes. Fixtures rotate SimpleBlock vs BlockGroup
# carriage (where keyframe = no ReferenceBlock) and an optional audio
# track; every field is event arithmetic, so the oracle replays the
# construction with generate_series and no parser. Byte offsets are
# layout-dependent and byte-verified in tests/test_media_codecs.py.
# ---------------------------------------------------------------------------

_WEBM_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k, 3 + event_id % 4 AS n
  FROM events WHERE event_id % 20 = 17
),
c AS (
  SELECT id, k, UNNEST(generate_series(0, n - 1)) AS cluster FROM g
),
rows_ AS (
  SELECT id, k, cluster, 1 AS track, cluster * 1000 AS ts,
         (cluster % 3 = 0) AS keyframe,
         CAST(20 + (id + cluster) % 30 AS INT) AS size
  FROM c
  UNION ALL
  SELECT id, k, cluster, 1, cluster * 1000 + 33, FALSE,
         CAST(5 + (id + cluster) % 7 AS INT)
  FROM c
  UNION ALL
  SELECT id, k, cluster, 2, cluster * 1000 + 5, TRUE,
         CAST(3 + (id + cluster) % 5 AS INT)
  FROM c WHERE k % 2 = 1
)
SELECT id,
       CAST(cluster AS INT) AS cluster,
       CAST(track AS INT) AS track,
       CAST(ts AS BIGINT) AS ts_ticks,
       ROUND(ts / 1000.0, 6) AS time_sec,
       keyframe,
       size
FROM rows_
"""


@register("multimodal_webm_keyframes", _WEBM_SQL)
def multimodal_webm_keyframes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EBML container walk end-to-end: build_webm fixtures (VP9 video
    track, optional Opus audio on k-parity, per-cluster key/delta
    blocks; k%2==0 carries video frames as BlockGroups whose
    keyframes are signalled by ReferenceBlock ABSENCE, k%2==1 as
    SimpleBlocks with the 0x80 flag) → operators/media_codecs
    webm_blocks → one row per block with keyframe flag and timing.
    k%3 rotates the live-stream shapes: an UNKNOWN-SIZE Segment
    (k%3==0), unknown-size Segment AND Clusters (k%3==1 — what a
    live remuxer actually writes), sized throughout (k%3==2); the
    RFC 8794 §6.2 schema-termination walk must yield byte-identical
    block rows for all three. One fused Arrow stage; codec payloads are
    opaque by design."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_webm,
        webm_blocks,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 17
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                n = 3 + e % 4
                group = k % 2 == 0
                tracks = [
                    {
                        "number": 1, "type": "video", "codec": "V_VP9",
                        "width": 640, "height": 360,
                    }
                ]
                if k % 2 == 1:
                    tracks.append(
                        {"number": 2, "type": "audio", "codec": "A_OPUS"}
                    )
                clusters = []
                for c in range(n):
                    blocks: list = [
                        {
                            "track": 1, "rel_ts": 0,
                            "keyframe": c % 3 == 0,
                            "payload": b"v" * (20 + (e + c) % 30),
                            "group": group,
                        },
                        {
                            "track": 1, "rel_ts": 33,
                            "keyframe": False,
                            "payload": b"d" * (5 + (e + c) % 7),
                            "group": group,
                        },
                    ]
                    if k % 2 == 1:
                        blocks.append(
                            (2, 5, True, b"a" * (3 + (e + c) % 5))
                        )
                    clusters.append(
                        {"timestamp": c * 1000, "blocks": blocks}
                    )
                payloads.append(
                    build_webm(
                        tracks=tracks, clusters=clusters,
                        duration_ticks=float(n * 1000),
                        unknown_size_segment=k % 3 < 2,
                        unknown_size_clusters=k % 3 == 1,
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in webm_blocks(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "cluster": r["cluster"],
                            "track": r["track"],
                            "ts_ticks": r["ts_ticks"],
                            "time_sec": r["time_sec"],
                            "keyframe": r["keyframe"],
                            "size": r["size"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "cluster", "track", "ts_ticks", "time_sec",
                    "keyframe", "size",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: walk(synth(it)),
        schema=(
            "id long, cluster int, track int, ts_ticks bigint, "
            "time_sec double, keyframe boolean, size int"
        ),
    )


# ---------------------------------------------------------------------------
# MP3 LSF (MPEG-2 / MPEG-2.5) Layer III through the driver gate —
# low-sample-rate voice/podcast MP3s are the most common real files a
# crawl's audio slice hits: ONE 576-line granule per frame, 9-byte
# mono side info with an 8-bit main_data_begin, no scfsi, and the
# 9-bit scalefac_compress whose ISO 13818-3 §2.4.3.2 derivation fixes
# the four slen widths, the nr_of_sfb group partition AND the implied
# preflag (no preflag bit exists). The rotation covers all three
# derivation branches (blocktypenumber 0/1/2 — the last with implied
# preemphasis exercised on energized high bands), both LSF band
# tables that differ from MPEG-1 (24 kHz MPEG-2 and the tail-heavy
# 8 kHz MPEG-2.5), and the 8-bit bit reservoir across two frames.
# The oracle replays the full requant chain closed-form.
# ---------------------------------------------------------------------------

_MP3_LSF_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 11
),
p AS (
  SELECT id, k, k % 3 AS v, k % 2 AS vr,
         CASE WHEN k % 3 = 2 THEN 96 + id % 3 ELSE 3 + id % 3 END AS np,
         1 + k % 3 AS nq,
         150 + id % 40 AS gg,
         (k // 2) % 2 AS scale,
         CASE WHEN k % 3 = 2 THEN 1 ELSE 0 END AS pre,
         CASE WHEN k % 5 = 1 THEN 2 ELSE 1 END AS nf
  FROM g
),
bands AS (
  SELECT 0 AS vr, * FROM (VALUES
    (0,0,6,0),(1,6,12,0),(2,12,18,0),(3,18,24,0),(4,24,30,0),(5,30,36,0),
    (6,36,44,0),(7,44,54,0),(8,54,66,0),(9,66,80,0),(10,80,96,0),
    (11,96,114,1),(12,114,136,1),(13,136,162,1),(14,162,194,1),
    (15,194,232,2),(16,232,278,2),(17,278,332,3),(18,332,394,3),
    (19,394,464,3),(20,464,540,2),(21,540,576,0)
  ) AS b(sfb, lo, hi, pretab)
  UNION ALL
  SELECT 1 AS vr, * FROM (VALUES
    (0,0,12,0),(1,12,24,0),(2,24,36,0),(3,36,48,0),(4,48,60,0),(5,60,72,0),
    (6,72,88,0),(7,88,108,0),(8,108,132,0),(9,132,160,0),(10,160,192,0),
    (11,192,232,1),(12,232,280,1),(13,280,336,1),(14,336,400,1),
    (15,400,476,2),(16,476,566,2),(17,566,568,3),(18,568,570,3),
    (19,570,572,3),(20,572,574,2),(21,574,576,0)
  ) AS b(sfb, lo, hi, pretab)
),
bb AS (
  SELECT p.*, b.sfb, b.lo, b.hi, b.pretab,
         CASE WHEN b.sfb = 21 THEN 0
              WHEN p.v = 0 THEN
                CASE WHEN b.sfb < 6 THEN 0
                     WHEN b.sfb < 11 THEN (p.id + b.sfb) % 16
                     WHEN b.sfb < 16 THEN (p.id + b.sfb) % 8
                     ELSE (p.id + b.sfb) % 2 END
              WHEN p.v = 1 THEN
                CASE WHEN b.sfb < 6 THEN (p.id + b.sfb) % 2
                     WHEN b.sfb < 11 THEN (p.id + b.sfb) % 16
                     ELSE 0 END
              ELSE
                CASE WHEN b.sfb < 11 THEN (p.id + b.sfb) % 2
                     ELSE (p.id + b.sfb) % 4 END
         END AS sf
  FROM p JOIN bands b ON b.vr = p.vr
),
lines AS (
  SELECT p.id, UNNEST(generate_series(0, 2 * np + 4 * nq - 1)) AS line
  FROM p
),
vals AS (
  SELECT l.id, l.line, CASE
      WHEN l.line < 2 * p.np AND l.line % 2 = 0
        THEN ((l.line // 2) * 3 + l.id) % 5 - 2
      WHEN l.line < 2 * p.np
        THEN ((l.line // 2) * 5 + l.id) % 5 - 2
      ELSE ((l.id + ((l.line - 2 * p.np) // 4) * 4
             + (l.line - 2 * p.np) % 4) % 3) - 1
    END AS c
  FROM lines l JOIN p ON p.id = l.id
),
agg AS (
  SELECT bb.id, bb.sfb,
         CAST(SUM(CASE WHEN v.c <> 0 THEN 1 ELSE 0 END) AS INT) AS nnz,
         SUM(POWER(
           POWER(ABS(v.c), 4.0 / 3.0)
           * POWER(2.0, 0.25 * (bb.gg - 210))
           * POWER(2.0, -(0.5 * (bb.scale + 1))
                   * (bb.sf + bb.pre * bb.pretab)),
           2)) AS e
  FROM bb JOIN vals v
    ON v.id = bb.id AND v.line >= bb.lo AND v.line < bb.hi
  GROUP BY 1, 2
),
frames AS (
  SELECT id, UNNEST(generate_series(0, nf - 1)) AS frame FROM p
)
SELECT bb.id,
       CAST(f.frame AS INT) AS frame,
       CAST(0 AS INT) AS granule,
       CAST(bb.sfb AS INT) AS sfb,
       CAST(bb.hi - bb.lo AS INT) AS width,
       CAST(COALESCE(a.nnz, 0) AS INT) AS n_nonzero,
       ROUND(SQRT(COALESCE(a.e, 0.0) / (bb.hi - bb.lo)), 6) AS rms
FROM bb
JOIN frames f ON f.id = bb.id
LEFT JOIN agg a ON a.id = bb.id AND a.sfb = bb.sfb
"""


# ---------------------------------------------------------------------------
# LSF INTENSITY STEREO through the driver gate — the §2.4.3.2
# reinterpretation low-bitrate stereo voice MP3s carry: the intensity
# channel's scalefac_compress LSB picks the io ladder base
# (2^-1/4 / 2^-1/2), int_sfc = sc>>1 partitions with the Table B.2
# intensity rows, and zero-part bands scale the carrier by io powers
# (odd positions → left, even → right; all-ones of the band's slen is
# illegal and falls back to plain L/R under mode_extension 1). The
# oracle replays carrier requantization AND the multiplier ladder in
# closed form per (channel, band).
# ---------------------------------------------------------------------------

_MP3_LSF_IS_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 14
),
p AS (
  SELECT id, k, 48 + id % 5 AS np, 150 + id % 40 AS gg,
         k % 2 AS iscale
  FROM g
),
bands AS (
  SELECT * FROM (VALUES
    (0,0,6),(1,6,12),(2,12,18),(3,18,24),(4,24,30),(5,30,36),
    (6,36,44),(7,44,54),(8,54,66),(9,66,80),(10,80,96),
    (11,96,114),(12,114,136),(13,136,162),(14,162,194),
    (15,194,232),(16,232,278),(17,278,332),(18,332,394),
    (19,394,464),(20,464,540),(21,540,576)
  ) AS b(sfb, lo, hi)
),
lines AS (
  SELECT id, UNNEST(generate_series(0, 2 * np - 1)) AS line FROM p
),
vals AS (
  SELECT l.id, l.line, CASE WHEN l.line % 2 = 0
      THEN ((l.line // 2) * 3 + l.id) % 5 - 2
      ELSE ((l.line // 2) * 5 + l.id) % 5 - 2 END AS c
  FROM lines l
),
carrier AS (
  SELECT p.id, b.sfb, b.lo, b.hi, p.gg, p.iscale,
         CAST(COALESCE(SUM(
           CASE WHEN v.c <> 0 THEN 1 ELSE 0 END), 0) AS INT) AS nnz,
         COALESCE(SUM(POWER(
           POWER(ABS(v.c), 4.0 / 3.0)
           * POWER(2.0, 0.25 * (p.gg - 210)), 2)), 0.0) AS e
  FROM p
  JOIN bands b ON TRUE
  LEFT JOIN vals v
    ON v.id = p.id AND v.line >= b.lo AND v.line < b.hi
  GROUP BY 1, 2, 3, 4, 5, 6
),
m AS (
  SELECT c.*,
         SQRT(c.e / (c.hi - c.lo)) AS crms,
         CASE WHEN c.sfb = 0 OR c.sfb >= 14 THEN 0
              ELSE (c.id + c.sfb) % 8 END AS pos,
         POWER(2.0, -0.25 * (c.iscale + 1)) AS io
  FROM carrier c
)
SELECT id, CAST(ch AS INT) AS channel, CAST(sfb AS INT) AS sfb,
       CAST(hi - lo AS INT) AS width,
       CAST(nnz_out AS INT) AS n_nonzero,
       ROUND(rms_out, 6) AS rms
FROM (
  -- left channel
  SELECT id, 0 AS ch, sfb, lo, hi, nnz AS nnz_out,
         CASE WHEN sfb = 0 THEN crms          -- below the zero part
              WHEN pos = 7 THEN crms          -- illegal → plain L/R
              WHEN pos % 2 = 1
                THEN crms * POWER(io, (pos + 1) // 2)
              ELSE crms END AS rms_out
  FROM m
  UNION ALL
  -- right (intensity) channel
  SELECT id, 1 AS ch, sfb, lo, hi,
         CASE WHEN sfb = 0 THEN 2
              WHEN pos = 7 THEN 0 ELSE nnz END AS nnz_out,
         CASE WHEN sfb = 0
                THEN SQRT(2 * POWER(
                  POWER(2.0, 0.25 * (gg - 210)), 2) / 6)
              WHEN pos = 7 THEN 0.0
              WHEN pos % 2 = 0 AND pos > 0
                THEN crms * POWER(io, pos // 2)
              ELSE crms END AS rms_out
  FROM m
)
"""


@register("multimodal_mp3_lsf_intensity_spectrum", _MP3_LSF_IS_SQL)
def multimodal_mp3_lsf_intensity_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSF intensity-stereo decode end-to-end: build_mp3_layer3
    fixtures (MPEG-2 @ 24 kHz, mode joint_is) whose carrier channel
    plants 48-52 big-value pairs and whose intensity channel carries
    one pair (so every band ≥ 1 is intensity-coded) with positions
    (id+b)%8 under sc = 252+k%2 (int slens (3,3,0,0), btn 3, both
    intensity_scale readings) → decode_mp3_layer3_spectrum applies
    the §2.4.3.2 io-ladder reconstruction → per-(channel, band) RMS.
    Position 7 = (1<<3)−1 is the illegal marker and falls back to
    plain L/R (mode_extension 1 carries no M/S)."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3_layer3,
        decode_mp3_layer3_spectrum,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 14
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                np_ = 48 + e % 5
                left = dict(
                    global_gain=150 + e % 40,
                    scalefac_compress=0,  # slens [0,0,0,0]
                    scalefac=[0] * 21,
                    scalefac_scale=0,
                    table=3,
                    pairs=[
                        ((i * 3 + e) % 5 - 2, (i * 5 + e) % 5 - 2)
                        for i in range(np_)
                    ],
                    quads=[],
                    count1table="A",
                    region0_count=4,
                    region1_count=5,
                )
                right = dict(
                    left,
                    scalefac_compress=252 + k % 2,
                    scalefac=[0]
                    + [(e + b) % 8 for b in range(1, 14)]
                    + [0] * 7,
                    pairs=[(1, -1)],
                )
                payloads.append(
                    build_mp3_layer3(
                        granules=[[left, right]],
                        version="MPEG2",
                        sample_rate=24000,
                        bitrate_kbps=48,
                        mode="joint_is",
                    )
                )
            yield pd.DataFrame(
                {"id": pdf["id"].values, "payload": payloads}
            )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in decode_mp3_layer3_spectrum(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "channel": r["channel"],
                            "sfb": r["sfb"],
                            "width": r["width"],
                            "n_nonzero": r["n_nonzero"],
                            "rms": r["rms"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "channel", "sfb", "width", "n_nonzero",
                    "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, channel int, sfb int, width int, "
            "n_nonzero int, rms double"
        ),
    )


@register("multimodal_mp3_lsf_spectrum", _MP3_LSF_SQL)
def multimodal_mp3_lsf_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LSF (MPEG-2 / MPEG-2.5) Layer III decode-to-requantization
    end-to-end: build_mp3_layer3(version=...) fixtures rotating
    MPEG-2 @ 24 kHz / MPEG-2.5 @ 8 kHz (k-parity — both band tables
    differ from every MPEG-1 layout), all three §2.4.3.2
    scalefac_compress derivation branches on k%3 (slen widths
    [0,4,3,1] / [1,4,0,0] / [1,2,0,0]; the last implies preflag=1 and
    plants ~200 spectral lines so the preemphasis lands on energized
    bands), and two-frame 8-bit bit-reservoir packing on k%5==1 →
    parse_mp3_layer3_sideinfo (one granule, no scfsi) →
    decode_mp3_layer3_spectrum → per-scalefactor-band RMS envelope.
    One fused Arrow stage; IMDCT/synthesis still raise."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3_layer3,
        decode_mp3_layer3_spectrum,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 11
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                v = k % 3
                version, rate, kbps = (
                    ("MPEG2", 24000, 48) if k % 2 == 0
                    else ("MPEG2.5", 8000, 24)
                )
                np_ = 96 + e % 3 if v == 2 else 3 + e % 3
                nq = 1 + k % 3
                sc = (77, 436, 505)[v]
                sf = []
                for b in range(21):
                    if v == 0:
                        sf.append(
                            0 if b < 6
                            else (e + b) % 16 if b < 11
                            else (e + b) % 8 if b < 16
                            else (e + b) % 2
                        )
                    elif v == 1:
                        sf.append(
                            (e + b) % 2 if b < 6
                            else (e + b) % 16 if b < 11
                            else 0
                        )
                    else:
                        sf.append((e + b) % 2 if b < 11 else (e + b) % 4)
                gran = dict(
                    global_gain=150 + e % 40,
                    scalefac_compress=sc,
                    scalefac=sf,
                    scalefac_scale=(k // 2) % 2,
                    table=3,
                    pairs=[
                        ((i * 3 + e) % 5 - 2, (i * 5 + e) % 5 - 2)
                        for i in range(np_)
                    ],
                    quads=[
                        tuple((e + j * 4 + q) % 3 - 1 for q in range(4))
                        for j in range(nq)
                    ],
                    count1table="A" if k % 2 == 0 else "B",
                    region0_count=4,
                    region1_count=5,
                )
                if k % 5 == 1:
                    payloads.append(
                        build_mp3_layer3(
                            frames=[{"granules": [gran]}] * 2,
                            version=version,
                            sample_rate=rate,
                            bitrate_kbps=kbps,
                            reservoir=True,
                        )
                    )
                else:
                    payloads.append(
                        build_mp3_layer3(
                            granules=[gran],
                            version=version,
                            sample_rate=rate,
                            bitrate_kbps=kbps,
                        )
                    )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in decode_mp3_layer3_spectrum(bytes(blob)):
                    rows.append({"id": rid, **r})
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "frame", "granule", "sfb", "width",
                    "n_nonzero", "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, frame int, granule int, sfb int, width int, "
            "n_nonzero int, rms double"
        ),
    )


# ---------------------------------------------------------------------------
# DOCX text extraction through the driver gate — the document-corpus
# format next to PDF: OOXML WordprocessingML is a zip whose
# word/document.xml carries w:p paragraphs of w:r runs (ECMA-376
# §17.3), fully stdlib-decodable with the same zip+XML machinery the
# engine's xlsx reader uses. Fixtures exercise the run-scoped
# character elements (w:tab / w:br — and plant a w:pPr tab-STOP
# definition that must NOT leak a character), XML escaping, empty
# paragraphs, and table-cell paragraphs in document order; the
# oracle replays the construction closed-form, paragraph by
# paragraph.
# ---------------------------------------------------------------------------

_DOCX_SQL = """
WITH base AS (
  SELECT doc_id,
         'doc ' || CAST(doc_id AS VARCHAR) || ' heading' AS p0,
         regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g') AS p1
  FROM documents
),
paras AS (
  SELECT doc_id, 0 AS para, p0 AS text FROM base
  UNION ALL
  SELECT doc_id, 1, p1 FROM base
  UNION ALL
  SELECT doc_id, 2,
         'part' || chr(9) || 'A' || CAST(doc_id AS VARCHAR)
           || chr(10) || 'B' || CAST(doc_id % 7 AS VARCHAR)
  FROM base WHERE doc_id % 3 = 0
  UNION ALL
  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END,
         'cell ' || CAST(doc_id % 5 AS VARCHAR)
  FROM base WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 4 ELSE 3 END,
         'tail & <' || CAST(doc_id % 3 AS VARCHAR) || '>'
  FROM base WHERE doc_id % 4 = 0
)
SELECT doc_id, CAST(para AS INT) AS para, text,
       CAST(length(text) AS INT) AS n_chars
FROM paras
"""


@register("docx_text_extract", _DOCX_SQL)
def docx_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOCX corpus ingest end-to-end: build_docx fixtures carrying
    the documents table's (ASCII-cleaned) text plus run-token and
    table constructs → OPC zip walk → w:p/w:r text reconstruction →
    one row per paragraph (sources/docx.docx_documents). Every
    fixture paragraph plants a w:pPr tab-stop definition sharing the
    w:tab tag, so the extractor's run-scoped matching is what keeps
    the hash stable; doc_id%3 rows add a tab+break run paragraph,
    doc_id%4 rows a one-row table whose cell paragraphs must surface
    in document order with XML entities unescaped."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.docx import (
        build_docx,
        docx_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                paragraphs: list = [
                    f"doc {d} heading",
                    str(prefix),
                ]
                if d % 3 == 0:
                    paragraphs.append(
                        ["part", ("tab",), f"A{d}", ("br",), f"B{d % 7}"]
                    )
                if d % 4 == 0:
                    paragraphs.append(
                        {"cells": [f"cell {d % 5}", f"tail & <{d % 3}>"]}
                    )
                payloads.append(build_docx(paragraphs))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return docx_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# Legacy .doc text extraction through the driver gate (r13) — the
# binary-Office tail of the document corpus: CFB container → FIB →
# piece table in 1Table → CP-ordered text reconstruction from mixed
# ANSI/Unicode pieces stored OUT of fc order (sources/doc.py). Every
# fixture splits into ~11-CP pieces so piece boundaries land inside
# words, field characters and cell marks; a greek character forces a
# UTF-16 piece next to cp1252 ones; a decoy 0Table stream of garbage
# rides along and must never be read (fWhichTblStm selects 1Table).
# The oracle replays the construction closed-form.
# ---------------------------------------------------------------------------

_DOC_SQL = """
WITH base AS (
  SELECT doc_id,
         regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g') AS p1
  FROM documents
),
paras AS (
  SELECT doc_id, 0 AS para,
         'doc ' || CAST(doc_id AS VARCHAR) || ' heading' AS text
  FROM base
  UNION ALL
  SELECT doc_id, 1, p1 FROM base
  UNION ALL
  SELECT doc_id, 2,
         'A' || CAST(doc_id AS VARCHAR) || chr(10)
           || 'B' || CAST(doc_id % 7 AS VARCHAR)
  FROM base WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id,
         CAST(2 + CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS INT),
         'c' || CAST(doc_id % 5 AS VARCHAR) || chr(9)
           || 'g' || chr(945) || CAST(doc_id % 3 AS VARCHAR)
  FROM base WHERE doc_id % 4 = 2
  UNION ALL
  SELECT doc_id,
         CAST(2 + CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END
                + CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS INT),
         'res ' || CAST(doc_id % 9 AS VARCHAR)
  FROM base WHERE doc_id % 5 = 2
)
SELECT doc_id, CAST(para AS INT) AS para, text,
       CAST(length(text) AS INT) AS n_chars
FROM paras
"""


@register("doc_text_extract", _DOC_SQL)
def doc_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy .doc corpus ingest end-to-end: build_doc fixtures carry
    the documents table's ASCII-cleaned prefix plus, by id, a
    line-break paragraph (0x0B), a table-cell paragraph (0x07 marks,
    with a greek char that forces a UTF-16 piece), and a field whose
    INSTRUCTION must drop while its RESULT surfaces (0x13/0x14/0x15)
    → CFB walk → FIB → 1Table piece table (pieces stored reversed)
    → sources/doc.doc_documents, one row per paragraph."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.doc import (
        build_doc,
        doc_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                paragraphs: list = [
                    f"doc {d} heading",
                    str(prefix),
                ]
                if d % 3 == 2:
                    paragraphs.append(("br", f"A{d}", f"B{d % 7}"))
                if d % 4 == 2:
                    paragraphs.append(
                        ("cells", [f"c{d % 5}",
                                   "g" + chr(945) + f"{d % 3}"])
                    )
                if d % 5 == 2:
                    paragraphs.append(
                        ("field", f"REF bk{d}", f"res {d % 9}")
                    )
                payloads.append(build_doc(paragraphs, piece_chars=11))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return doc_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# ODT text extraction through the driver gate — the OpenDocument half
# of the office-document corpus (ODF 1.2): content.xml carries MIXED
# paragraph content (character data directly in text:p and inside
# text:span, so tails matter), plus the §6.1 whitespace elements
# (text:tab / text:line-break / text:s with a count). Fixtures split
# the documents-table prefix across a span boundary, add a
# tab+break+spaces paragraph and a one-row table; the oracle replays
# the construction closed-form.
# ---------------------------------------------------------------------------

_ODT_SQL = """
WITH base AS (
  SELECT doc_id,
         'doc ' || CAST(doc_id AS VARCHAR) || ' heading' AS p0,
         regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g') AS p1
  FROM documents
),
paras AS (
  SELECT doc_id, 0 AS para, p0 AS text FROM base
  UNION ALL
  SELECT doc_id, 1, p1 FROM base
  UNION ALL
  SELECT doc_id, 2,
         'part' || chr(9) || 'A' || CAST(doc_id AS VARCHAR)
           || chr(10) || '   B' || CAST(doc_id % 7 AS VARCHAR)
  FROM base WHERE doc_id % 3 = 1
  UNION ALL
  SELECT doc_id, CASE WHEN doc_id % 3 = 1 THEN 3 ELSE 2 END,
         'cell ' || CAST(doc_id % 5 AS VARCHAR)
  FROM base WHERE doc_id % 4 = 1
  UNION ALL
  SELECT doc_id, CASE WHEN doc_id % 3 = 1 THEN 4 ELSE 3 END,
         'tail & <' || CAST(doc_id % 3 AS VARCHAR) || '>'
  FROM base WHERE doc_id % 4 = 1
)
SELECT doc_id, CAST(para AS INT) AS para, text,
       CAST(length(text) AS INT) AS n_chars
FROM paras
"""


@register("odt_text_extract", _ODT_SQL)
def odt_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODT corpus ingest end-to-end: build_odt fixtures carrying the
    documents table's (ASCII-cleaned) text plus whitespace-element
    and table constructs → ODF zip walk (mimetype-first package) →
    mixed-content paragraph reconstruction → one row per paragraph
    (sources/odt.odt_documents). The heading rides text:h, the prefix
    paragraph splits mid-string across a text:span boundary (so span
    recursion AND tail text are load-bearing), doc_id%3==1 rows add a
    text:tab + text:line-break + text:s(3) paragraph, doc_id%4==1
    rows a one-row table whose cell paragraphs must surface in
    document order with XML entities unescaped."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.odt import (
        build_odt,
        odt_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                pre = str(prefix)
                cut = len(pre) // 2
                paragraphs: list = [
                    {"heading": f"doc {d} heading"},
                    [pre[:cut], ("span", pre[cut:])],
                ]
                if d % 3 == 1:
                    paragraphs.append(
                        [
                            "part", ("tab",), f"A{d}", ("br",),
                            ("s", 3), f"B{d % 7}",
                        ]
                    )
                if d % 4 == 1:
                    paragraphs.append(
                        {"cells": [f"cell {d % 5}", f"tail & <{d % 3}>"]}
                    )
                payloads.append(build_odt(paragraphs))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return odt_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# EPUB text extraction through the driver gate — the packaged-web
# document container (OCF zip → container.xml → .opf package →
# spine-ordered XHTML). The fixture deliberately STORES chapter
# documents in reverse zip order while the spine orders them forward,
# wraps every plain paragraph's second half in <em> (inline
# flattening is load-bearing), and plants <script>/<style> content
# that must never surface; the oracle replays the construction
# closed-form with the (chapter, para) spine coordinates.
# ---------------------------------------------------------------------------

_EPUB_SQL = """
WITH base AS (
  SELECT doc_id,
         regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g') AS p1
  FROM documents
),
paras AS (
  SELECT doc_id, 0 AS chapter, 0 AS para,
         'doc ' || CAST(doc_id AS VARCHAR) AS text FROM base
  UNION ALL
  SELECT doc_id, 0, 1, p1 FROM base
  UNION ALL
  SELECT doc_id, 1, 0, 'item A' || CAST(doc_id AS VARCHAR)
  FROM base WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id, 1, 1, 'item B' || CAST(doc_id % 7 AS VARCHAR)
  FROM base WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id, 1, 2,
         'x' || CAST(doc_id % 4 AS VARCHAR) || chr(10) || 'y'
  FROM base WHERE doc_id % 3 = 2
)
SELECT doc_id, CAST(chapter AS INT) AS chapter,
       CAST(para AS INT) AS para, text,
       CAST(length(text) AS INT) AS n_chars
FROM paras
"""


@register("epub_text_extract", _EPUB_SQL)
def epub_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB corpus ingest end-to-end: build_epub fixtures carrying
    the documents table's (ASCII-cleaned) text → OCF container walk
    (container.xml → package.opf) → spine-ordered XHTML chapter
    parse → innermost-block paragraph rows (sources/epub
    .epub_documents). Chapter documents are stored in REVERSE zip
    order so manifest/spine resolution is what fixes reading order;
    every fixture chapter carries a <style> and <script> head that
    must never leak; doc_id%3==2 docs add a second chapter with a
    list and a <br/> paragraph."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.epub import (
        build_epub,
        epub_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                chapters: list = [
                    [("h1", f"doc {d}"), str(prefix)],
                ]
                if d % 3 == 2:
                    chapters.append(
                        [
                            ("li", [f"item A{d}", f"item B{d % 7}"]),
                            ("brp", f"x{d % 4}", "y"),
                        ]
                    )
                payloads.append(build_epub(chapters))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return epub_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# RTF text extraction through the driver gate — the legacy rich-text
# format of e-mail archives and old document dumps: a control-word
# stream with group-scoped state. Fixtures carry a font table, a
# colour table and an {\\*\\generator} block full of decoy text the
# extractor must skip as destinations, cp1252 \\'hh escapes, and the
# documents-table prefix; the oracle replays the construction
# closed-form.
# ---------------------------------------------------------------------------

_RTF_SQL = """
WITH base AS (
  SELECT doc_id,
         'doc ' || CAST(doc_id AS VARCHAR) || ' rtf' AS p0,
         regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g') AS p1
  FROM documents
),
paras AS (
  SELECT doc_id, 0 AS para, p0 AS text FROM base
  UNION ALL
  SELECT doc_id, 1, p1 FROM base
  UNION ALL
  SELECT doc_id, 2,
         'k' || chr(9) || 'v' || CAST(doc_id % 9 AS VARCHAR)
           || chr(10) || '{' || CAST(doc_id % 4 AS VARCHAR) || '}'
  FROM base WHERE doc_id % 5 = 3
)
SELECT doc_id, CAST(para AS INT) AS para, text,
       CAST(length(text) AS INT) AS n_chars
FROM paras
"""


@register("rtf_text_extract", _RTF_SQL)
def rtf_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF corpus ingest end-to-end: build_rtf fixtures carrying the
    documents table's (ASCII-cleaned) text plus control-word
    constructs → group-state parse → one row per \\par paragraph
    (sources/rtf.rtf_documents). Every fixture document plants
    fonttbl/colortbl/{\\*\\generator} destinations whose decoy text
    must be skipped as whole groups; doc_id%5==3 rows add a
    tab+line paragraph with ESCAPED braces (\\{ \\}) that must
    surface as literal braces, not group delimiters."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.rtf import (
        build_rtf,
        rtf_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                paragraphs: list = [
                    f"doc {d} rtf",
                    str(prefix),
                ]
                if d % 5 == 3:
                    paragraphs.append(
                        [
                            "k", ("tab",), f"v{d % 9}", ("br",),
                            "{" + f"{d % 4}" + "}",
                        ]
                    )
                payloads.append(build_rtf(paragraphs))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return rtf_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# PPTX text extraction through the driver gate — the third OOXML
# container (PresentationML): slide decks are common in web corpora
# and their text lives in a:p paragraphs of a:r runs inside shape
# text bodies, with slide ORDER defined by p:sldIdLst resolved
# through the presentation relationships part (not file names — the
# fixture writer stores the first presented slide under the HIGHEST
# slide number to make the rels walk load-bearing). Fixtures add a
# break-run slide, a multi-shape slide with a cached slide-number
# field, and a planted notes-slide part whose decoy text must never
# surface; the oracle replays the construction closed-form.
# ---------------------------------------------------------------------------

_PPTX_SQL = """
WITH base AS (
  SELECT doc_id,
         'doc ' || CAST(doc_id AS VARCHAR) || ' title' AS p0,
         regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g') AS p1
  FROM documents
),
paras AS (
  SELECT doc_id, 0 AS slide, 0 AS para, p0 AS text FROM base
  UNION ALL
  SELECT doc_id, 0, 1, p1 FROM base
  UNION ALL
  SELECT doc_id, 1, 0,
         'part' || chr(10) || 'A' || CAST(doc_id AS VARCHAR)
  FROM base WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id, 1, 1, 'B' || CAST(doc_id % 7 AS VARCHAR)
  FROM base WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END, 0,
         'tail & <' || CAST(doc_id % 3 AS VARCHAR) || '>'
  FROM base WHERE doc_id % 4 = 2
  UNION ALL
  SELECT doc_id, CASE WHEN doc_id % 3 = 2 THEN 2 ELSE 1 END, 1,
         'page ' || CAST(doc_id % 10 AS VARCHAR)
  FROM base WHERE doc_id % 4 = 2
)
SELECT doc_id, CAST(slide AS INT) AS slide, CAST(para AS INT) AS para,
       text, CAST(length(text) AS INT) AS n_chars
FROM paras
"""


@register("pptx_text_extract", _PPTX_SQL)
def pptx_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPTX corpus ingest end-to-end: build_pptx fixtures carrying
    the documents table's (ASCII-cleaned) text → OPC zip walk →
    sldIdLst+rels slide ordering → a:p/a:r text reconstruction →
    one row per slide paragraph (sources/pptx.pptx_documents).
    Slide part names are REVERSED relative to presentation order and
    every deck plants a notes slide with decoy text, so both the
    relationship walk and the slide-part scoping are what keep the
    hash stable; doc_id%3==2 decks add a break-run slide, doc_id%4==2
    decks a two-shape slide whose second shape ends in a cached
    slide-number field."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pptx import (
        build_pptx,
        pptx_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                slides: list = [[f"doc {d} title", str(prefix)]]
                if d % 3 == 2:
                    slides.append(
                        [["part", ("br",), f"A{d}"], f"B{d % 7}"]
                    )
                if d % 4 == 2:
                    slides.append(
                        {
                            "shapes": [
                                [f"tail & <{d % 3}>"],
                                [["page ", ("fld", str(d % 10))]],
                            ]
                        }
                    )
                payloads.append(build_pptx(slides))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return pptx_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# Standalone HTML text extraction through the driver gate — loose
# .html files for non-WARC web corpora (sources/html): comment →
# script/style → head stripping in pinned order, <title> capture,
# block-tag paragraph segmentation, entities unescaped last. Every
# fixture page plants a <style> block and both a commented-out and a
# live <script> whose decoy text must never surface; the oracle
# replays the construction with the extractor's whitespace collapse.
# ---------------------------------------------------------------------------

_HTML_SQL = """
WITH base AS (
  SELECT doc_id,
         'Title ' || CAST(doc_id % 11 AS VARCHAR) AS title,
         trim(regexp_replace(
           'body ' || regexp_replace(substr(text, 1, 40),
                                     '[^ -~]', '', 'g'),
           ' +', ' ', 'g')) AS p1
  FROM documents
),
paras AS (
  SELECT doc_id, 0 AS para, title,
         'doc ' || CAST(doc_id AS VARCHAR) || ' intro' AS text
  FROM base
  UNION ALL
  SELECT doc_id, 1, title, p1 FROM base
  UNION ALL
  SELECT doc_id, 2, title,
         'tail & <' || CAST(doc_id % 3 AS VARCHAR) || '>'
  FROM base WHERE doc_id % 4 = 1
)
SELECT doc_id, CAST(para AS INT) AS para, title, text,
       CAST(length(text) AS INT) AS n_chars
FROM paras
"""


@register("html_text_extract", _HTML_SQL)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loose-HTML corpus ingest end-to-end: build_html fixtures
    carrying the documents table's (ASCII-cleaned, 'body '-prefixed
    so the paragraph never collapses to empty) text → ordered decoy
    strip → block segmentation → one row per paragraph with the page
    title (sources/html.html_documents). doc_id%4==1 pages add an
    entity-escaped tail paragraph that must unescape back to literal
    angle brackets."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.html import (
        build_html,
        html_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                paras = [f"doc {d} intro", f"body {prefix}"]
                if d % 4 == 1:
                    paras.append(f"tail & <{d % 3}>")
                payloads.append(
                    build_html(f"Title {d % 11}", paras)
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return html_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# MP3 Layer II subband decode through the driver gate — fills the
# Layer I/III sandwich (ISO 11172-3 §2.4.3.3 for Layer II):
# table-selected allocation (3-B.2a–d), scfsi scalefactor sharing
# over the three 12-sample parts, grouped 3/5/9-level degrouping,
# and the derived C/D requantization. Fixtures rotate three
# rate/bitrate variants that exercise tables b, c and d plus 1- and
# 2-frame streams; scalefactor indices are multiples of 3 so factors
# are exact powers of two and the oracle's POWER() arithmetic
# replays the kernel's doubles bit-for-bit at the 6-dp round.
# ---------------------------------------------------------------------------

_MP3_L2_SQL = """
WITH g AS (
  SELECT event_id AS id FROM events WHERE event_id % 20 = 13
),
bands(v, subband, steps, grp, k) AS (
  VALUES
    (0, 0, 3, true, 2), (0, 1, 15, false, 4), (0, 3, 5, true, 3),
    (0, 5, 9, true, 4), (0, 11, 7, false, 3), (0, 23, 5, true, 3),
    (0, 27, 3, true, 2),
    (1, 0, 5, true, 3), (1, 1, 7, false, 3), (1, 2, 5, true, 3),
    (1, 4, 15, false, 4), (1, 7, 127, false, 7),
    (2, 0, 7, false, 3), (2, 2, 7, false, 3), (2, 9, 15, false, 4),
    (2, 11, 5, true, 3)
),
b AS (
  SELECT id, subband, steps, grp, k, (id + subband) % 4 AS scfsi
  FROM g JOIN bands ON bands.v = id % 3
),
samp AS (
  SELECT id, subband, steps, grp, k, scfsi,
         UNNEST(generate_series(0, 35)) AS t
  FROM b
),
vals AS (
  SELECT id, subband, steps, scfsi,
    (2.0 * POWER(2.0, -((id + subband + (
        CASE scfsi
          WHEN 0 THEN (t // 12)
          WHEN 1 THEN CASE WHEN t // 12 < 2 THEN 0 ELSE 1 END
          WHEN 2 THEN 0
          ELSE CASE WHEN t // 12 = 0 THEN 0 ELSE 1 END
        END)) % 5)))
    * ((POWER(2.0, k) / steps)
       * (((t * (subband + 1) + id) % steps) / POWER(2.0, k - 1)
          - 1 + CASE WHEN grp THEN 0.5
                     ELSE POWER(2.0, 1 - k) END)) AS x
  FROM samp
),
frames AS (
  SELECT id AS fid, UNNEST(generate_series(0, id % 2)) AS frame FROM g
)
SELECT v.id, CAST(f.frame AS INT) AS frame,
       CAST(v.subband AS INT) AS subband,
       CAST(v.steps AS INT) AS steps,
       CAST(v.scfsi AS INT) AS scfsi,
       ROUND(SQRT(SUM(v.x * v.x) / 36.0), 6) AS rms
FROM vals v JOIN frames f ON v.id = f.fid
GROUP BY v.id, f.frame, v.subband, v.steps, v.scfsi
"""

_L2_QUERY_BANDS = {
    0: [(0, 1), (1, 3), (3, 2), (5, 4), (11, 3), (23, 2), (27, 1)],
    1: [(0, 1), (1, 2), (2, 1), (4, 4), (7, 7)],
    2: [(0, 2), (2, 2), (9, 4), (11, 1)],
}
_L2_QUERY_STEPS = {
    0: {0: 3, 1: 15, 3: 5, 5: 9, 11: 7, 23: 5, 27: 3},
    1: {0: 5, 1: 7, 2: 5, 4: 15, 7: 127},
    2: {0: 7, 2: 7, 9: 15, 11: 5},
}
_L2_QUERY_CFG = {0: (44100, 96, 30), 1: (44100, 48, 8), 2: (32000, 48, 12)}


@register("multimodal_mp3_layer2_subband_decode", _MP3_L2_SQL)
def multimodal_mp3_layer2_subband_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer II subband decode end-to-end: build_mp3_layer2 fixtures
    (real bit-packed allocation/scfsi/scalefactor/grouped-sample
    payload across quantization tables b, c and d) →
    decode_mp3_layer2_subbands → per-band RMS envelope over the 36
    samples. One fused Arrow stage; PCM synthesis still raises honestly."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        build_mp3_layer2,
        decode_mp3_layer2_subbands,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 13
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                v = e % 3
                rate, kbps, sblimit = _L2_QUERY_CFG[v]
                steps_map = _L2_QUERY_STEPS[v]
                alloc = [0] * sblimit
                for sb, idx in _L2_QUERY_BANDS[v]:
                    alloc[sb] = idx
                scfsi = [
                    (e + sb) % 4 if alloc[sb] else 0
                    for sb in range(sblimit)
                ]
                payloads.append(
                    build_mp3_layer2(
                        sample_rate=rate,
                        bitrate_kbps=kbps,
                        alloc_idx=alloc,
                        scfsi=scfsi,
                        scf_idx=lambda sb, j, _e=e: 3 * ((_e + sb + j) % 5),
                        codes=lambda t, sb, _e=e, _m=steps_map: (
                            (t * (sb + 1) + _e) % _m[sb]
                        ),
                        n_frames=1 + e % 2,
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                for r in decode_mp3_layer2_subbands(bytes(blob)):
                    rows.append({"id": rid, **r})
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "frame", "subband", "steps", "scfsi", "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, frame int, subband int, steps int, scfsi int, "
            "rms double"
        ),
    )


# ---------------------------------------------------------------------------
# JPEG 2000 image extraction through the driver gate — the last
# mainstream scanned-PDF codec (/JPXDecode, ISO 15444-1): fixtures
# rotate a 2-level grayscale codestream, a 1-level RGB/RCT
# codestream, and a JP2-container grayscale with zero-bitplane slack
# (the tag-tree P0 path carrying real work). Pixel formulas are
# modular-integer, so the oracle replays the exact per-channel means
# in SQL and any Tier-1/wavelet/RCT slip shifts them. The entropy
# layer is the SAME from-scratch MQ coder as the JBIG2 family
# (operators/jbig2.py), wrapped in EBCOT Tier-1/Tier-2 and the 5/3
# reversible lifting (operators/jpeg2000.py).
# ---------------------------------------------------------------------------

_PDF_JPX_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id % 3 AS v
  FROM events WHERE event_id % 20 = 14
),
dims AS (
  SELECT id, v,
         CASE v WHEN 0 THEN 16 WHEN 1 THEN 10 ELSE 16 END AS w,
         CASE v WHEN 0 THEN 12 WHEN 1 THEN 10 ELSE 8 END AS h
  FROM g
),
px AS (
  SELECT id, v, w, h, UNNEST(generate_series(0, h - 1)) AS y
  FROM dims
),
px2 AS (
  SELECT id, v, w, h, y, UNNEST(generate_series(0, w - 1)) AS x
  FROM px
),
vals AS (
  SELECT id, v, w, h,
         ((x + 1) * (y + 2) + id) % 256 AS g0,
         (x * 3 + y * 5 + id + 1) % 256 AS g1,
         (x * 7 + y * 2 + id + 2) % 256 AS g2
  FROM px2
),
agg AS (
  SELECT id, v, w, h,
         CAST(SUM(g0) AS DOUBLE) AS s0,
         CAST(SUM(g1) AS DOUBLE) AS s1,
         CAST(SUM(g2) AS DOUBLE) AS s2
  FROM vals GROUP BY id, v, w, h
)
SELECT id,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(CASE WHEN v = 1 THEN 3 ELSE 1 END AS INT) AS n_channels,
       CAST(CASE v WHEN 1 THEN 1 ELSE 2 END AS INT) AS levels,
       CAST(v = 2 AS BOOLEAN) AS container,
       CAST('jpx' AS VARCHAR) AS codec,
       ROUND(s0 / (w * h), 4) AS cm0,
       CASE WHEN v = 1 THEN ROUND(s1 / (w * h), 4)
            ELSE ROUND(s0 / (w * h), 4) END AS cm1,
       CASE WHEN v = 1 THEN ROUND(s2 / (w * h), 4)
            ELSE ROUND(s0 / (w * h), 4) END AS cm2
FROM agg
"""


@register("pdf_jpx_image_extract", _PDF_JPX_SQL)
def pdf_jpx_image_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG 2000 path end-to-end: encode_jpx writes a real Part 1
    codestream (SIZ/COD/QCD markers, tag-tree packet headers, EBCOT
    Tier-1 over the shared MQ coder, 5/3 reversible lifting, RCT for
    RGB), build_pdf embeds it behind /JPXDecode, and pdf_images
    decodes it back to pixel statistics. Variant rotation: v0 =
    2-level grayscale, v1 = 1-level RGB through the reversible
    colour transform, v2 = JP2 container + eps_slack=2 (signalled
    zero bitplanes). Lossless reconstruction means the oracle's
    modular pixel formulas replay the means exactly."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 14
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, levels_l, containers = [], [], []
            for eid in pdf["id"]:
                e = int(eid)
                v = e % 3
                if v == 0:
                    w, h, lv, opts = 16, 12, 2, {"levels": 2}
                elif v == 1:
                    w, h, lv, opts = 10, 10, 1, {"levels": 1}
                else:
                    w, h, lv = 16, 8, 2
                    opts = {
                        "levels": 2, "eps_slack": 2,
                        "jp2_container": True,
                    }
                yy, xx = np.mgrid[0:h, 0:w]
                g0 = ((xx + 1) * (yy + 2) + e) % 256
                if v == 1:
                    g1 = (xx * 3 + yy * 5 + e + 1) % 256
                    g2 = (xx * 7 + yy * 2 + e + 2) % 256
                    arr = np.stack([g0, g1, g2], axis=-1)
                else:
                    arr = g0
                payloads.append(
                    build_pdf(
                        [[f"jpx {e}"]],
                        page_images=[[("jpx", arr, opts)]],
                    )
                )
                levels_l.append(lv)
                containers.append(v == 2)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "levels": levels_l,
                    "container": containers,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, lv, ct, blob in zip(
                pdf["id"], pdf["levels"], pdf["container"],
                pdf["payload"],
            ):
                for r in pdf_images(bytes(blob)):
                    # per-channel means rather than a weighted luma:
                    # the 0.299/0.587/0.114 sum of 4-dp means lands
                    # on .00005 round boundaries where Python and
                    # SQL ROUND diverge by an ulp; three exact means
                    # verify strictly more than one weighted one
                    cm = r["channel_means"]
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "n_channels": r["n_channels"],
                            "levels": lv,
                            "container": ct,
                            "codec": r["codec"],
                            "cm0": cm[0],
                            "cm1": cm[1 % len(cm)],
                            "cm2": cm[2 % len(cm)],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "n_channels", "levels",
                    "container", "codec", "cm0", "cm1", "cm2",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, n_channels int, "
            "levels int, container boolean, codec string, "
            "cm0 double, cm1 double, cm2 double"
        ),
    )


# ---------------------------------------------------------------------------
# ODP presentation ingest through the driver gate (r12): draw:page →
# draw:frame/draw:text-box scoping with the ODT mixed-content
# paragraph walk, speaker-notes exclusion (every fixture slide
# plants a presentation:notes decoy that must never surface), and
# line-break rendering. The OpenDocument twin of pptx_text_extract.
# ---------------------------------------------------------------------------

_ODP_SQL = """
WITH base AS (
  SELECT doc_id,
         regexp_replace(substr(text, 1, 40), '[^ -~]', '', 'g') AS p1
  FROM documents
),
rows_ AS (
  SELECT doc_id, 0 AS slide, 0 AS frame, 0 AS para,
         'deck ' || CAST(doc_id AS VARCHAR) || ' s'
           || CAST(doc_id % 5 AS VARCHAR) AS text
  FROM base
  UNION ALL
  SELECT doc_id, 1, 0, 0, 'body ' || p1 FROM base
  UNION ALL
  SELECT doc_id, 1, 1, 0,
         'agenda ' || CAST(doc_id % 7 AS VARCHAR)
  FROM base WHERE doc_id % 4 = 2
  UNION ALL
  SELECT doc_id, 2, 0, 0,
         'left ' || CAST(doc_id % 9 AS VARCHAR) || chr(10) || 'right'
  FROM base WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id,
         2 + CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END, 0, 0,
         'topics ' || CAST(doc_id % 6 AS VARCHAR)
  FROM base WHERE doc_id % 5 = 2
  UNION ALL
  SELECT doc_id,
         2 + CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END, 0, 1,
         'first ' || CAST(doc_id % 4 AS VARCHAR)
  FROM base WHERE doc_id % 5 = 2
  UNION ALL
  SELECT doc_id,
         2 + CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END, 0, 2,
         'second'
  FROM base WHERE doc_id % 5 = 2
  UNION ALL
  SELECT doc_id,
         2 + CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END, 1, 0,
         'shape note ' || CAST(doc_id % 8 AS VARCHAR)
  FROM base WHERE doc_id % 5 = 2
)
SELECT doc_id, CAST(slide AS INT) AS slide,
       CAST(frame AS INT) AS frame, CAST(para AS INT) AS para, text,
       CAST(length(text) AS INT) AS n_chars
FROM rows_
"""


@register("odp_text_extract", _ODP_SQL)
def odp_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODP corpus ingest end-to-end: build_odp fixtures carrying the
    documents table's (ASCII-cleaned) text — a title slide, a body
    slide (doc_id%4==2 adds a second frame), doc_id%3==2 a
    line-break slide, doc_id%5==2 an OUTLINE slide whose bullets
    nest under text:list/text:list-item (the dominant Impress body
    form) next to a bare draw:custom-shape paragraph without a
    text-box wrapper — through the draw:page walk to one row per
    (slide, frame, paragraph). Every slide carries a speaker-notes
    decoy; a scoping slip surfaces it and breaks the hash."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.odp import (
        build_odp,
        odp_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 40), "[^ -~]", "").alias(
            "__prefix"
        ),
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did, prefix in zip(pdf["doc_id"], pdf["__prefix"]):
                d = int(did)
                slide1 = [[f"body {prefix}"]]
                if d % 4 == 2:
                    slide1.append([f"agenda {d % 7}"])
                slides = [
                    [[f"deck {d} s{d % 5}"]],
                    slide1,
                ]
                if d % 3 == 2:
                    slides.append([[("br", f"left {d % 9}", "right")]])
                if d % 5 == 2:
                    # r13: Impress-style text:list bullets nested in
                    # the text box + a bare custom-shape paragraph
                    slides.append([
                        [f"topics {d % 6}",
                         ("li", f"first {d % 4}"), ("li", "second")],
                        ("shape", [f"shape note {d % 8}"]),
                    ])
                payloads.append(build_odp(slides))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return odp_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# ODS spreadsheet ingest through the driver gate (r12): the ODF
# typed-value cell model (office:value-type + office:value vs the
# DISPLAY text:p — deliberately different strings in the fixtures),
# number-columns/rows-repeated run-length expansion bounded to
# populated cells, covered/empty positioning cells, multi-sheet
# order, and cached-formula cells. Extends the xlsx/xls tabular
# family to the OpenDocument side on the sources/odt zip walk.
# ---------------------------------------------------------------------------

_ODS_SQL = """
WITH d AS (
  SELECT doc_id, doc_id % 4 + 2 AS n FROM documents
),
hdr AS (
  SELECT doc_id, 0 AS sheet, 'data' AS sheet_name, 0 AS "row",
         0 AS col, 'string' AS value_type, 'key' AS text,
         CAST(NULL AS DOUBLE) AS number,
         CAST(NULL AS VARCHAR) AS formula
  FROM d
  UNION ALL
  SELECT doc_id, 0, 'data', 0, 1, 'string', 'val', NULL, NULL FROM d
),
body0 AS (
  SELECT doc_id,
         UNNEST(generate_series(1, CAST(n AS BIGINT))) AS i
  FROM d
),
body AS (
  SELECT doc_id, 0 AS sheet, 'data' AS sheet_name,
         CAST(i AS INT) AS "row", 0 AS col, 'string' AS value_type,
         'k' || CAST(i AS VARCHAR) AS text,
         CAST(NULL AS DOUBLE) AS number,
         CAST(NULL AS VARCHAR) AS formula
  FROM body0
  UNION ALL
  SELECT doc_id, 0, 'data', CAST(i AS INT), 1, 'float',
         'v' || CAST(i AS VARCHAR),
         ((doc_id * 7 + i * 13) % 997) + 0.25, NULL
  FROM body0
),
rep AS (
  SELECT doc_id, 0 AS sheet, 'data' AS sheet_name,
         CAST(d.n + r AS INT) AS "row", CAST(c AS INT) AS col,
         'float' AS value_type, 'rr' AS text,
         (doc_id % 50) + 0.5 AS number,
         CAST(NULL AS VARCHAR) AS formula
  FROM d, UNNEST([1, 2]) AS t1(r), UNNEST([0, 1]) AS t2(c)
  WHERE doc_id % 3 = 1
),
extra AS (
  SELECT doc_id, 1 AS sheet, 'extra' AS sheet_name, 0 AS "row",
         0 AS col, 'boolean' AS value_type,
         CASE WHEN doc_id % 2 = 0 THEN 'TRUE' ELSE 'FALSE' END,
         CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE 0.0 END,
         CAST(NULL AS VARCHAR)
  FROM d WHERE doc_id % 4 = 2
  UNION ALL
  SELECT doc_id, 1, 'extra', 0, 1, 'float',
         CAST(doc_id % 7 AS VARCHAR) || '.25',
         (doc_id % 7) + 0.25, 'of:=A1'
  FROM d WHERE doc_id % 4 = 2
),
merged AS (
  SELECT doc_id,
         1 + CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END AS sheet,
         'merged' AS sheet_name, 0 AS "row", 0 AS col,
         'string' AS value_type, 'M' AS text,
         CAST(NULL AS DOUBLE) AS number,
         CAST(NULL AS VARCHAR) AS formula
  FROM d WHERE doc_id % 6 = 3
  UNION ALL
  SELECT doc_id, 1 + CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END,
         'merged', 0, 3, 'float', '7.5', 7.5, NULL
  FROM d WHERE doc_id % 6 = 3
  UNION ALL
  SELECT doc_id, 1 + CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END,
         'merged', CAST(r AS INT), CAST(c AS INT), 'string', 'x',
         NULL, NULL
  FROM d, UNNEST([1, 2]) AS t1(r), UNNEST([1, 2]) AS t2(c)
  WHERE doc_id % 6 = 3
)
SELECT doc_id, CAST(sheet AS INT) AS sheet, sheet_name,
       "row", col, value_type, text, number, formula
FROM (SELECT * FROM hdr UNION ALL SELECT * FROM body
      UNION ALL SELECT * FROM rep UNION ALL SELECT * FROM extra
      UNION ALL SELECT * FROM merged)
"""


@register("ods_cell_extract", _ODS_SQL)
def ods_cell_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ODS corpus ingest end-to-end: build_ods fixtures (header +
    doc_id%4+2 typed data rows whose display strings deliberately
    differ from the office:value, a doubly-repeated populated row on
    doc_id%3==1, a second sheet with boolean + cached-formula
    cells on doc_id%4==2, and on doc_id%6==3 a merged-range sheet
    whose COVERED shadow cells advance columns without emitting,
    under rows-repeated x columns-repeated at the sheet edge) → zip
    walk → typed cell extraction (sources/ods.ods_documents), one
    row per populated cell."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.sources.ods import (
        build_ods,
        ods_documents,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id"
    ).repartition(spark.sparkContext.defaultParallelism)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                d = int(did)
                n = d % 4 + 2
                rows = [["key", "val"]]
                for i in range(1, n + 1):
                    rows.append([
                        f"k{i}",
                        ("num", ((d * 7 + i * 13) % 997) + 0.25,
                         f"v{i}"),
                    ])
                if d % 3 == 1:
                    rows.append(
                        ("rows", 2,
                         [("rep", 2,
                           ("num", (d % 50) + 0.5, "rr"))])
                    )
                sheets = [("data", rows)]
                if d % 4 == 2:
                    sheets.append(
                        ("extra", [[
                            d % 2 == 0,
                            ("formula", "of:=A1", (d % 7) + 0.25),
                        ]])
                    )
                if d % 6 == 3:
                    # r13 corner: a merged range's covered shadow
                    # cells advance the column index without
                    # emitting, interacting with rows-repeated AND
                    # columns-repeated at the sheet edge
                    sheets.append(("merged", [
                        ["M", ("covered", 2),
                         ("num", 7.5, "7.5")],
                        ("rows", 2, [None, ("rep", 2, "x")]),
                    ]))
                payloads.append(build_ods(sheets))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].values, "payload": payloads}
            )

    # fused: one Arrow stage — blobs stay inside the Python worker
    return ods_documents(docs, pre=synth)


# ---------------------------------------------------------------------------
# MP3 Layer II STEREO modes + MPEG-2 LSF through the driver gate
# (r12): channel-interleaved allocation/scfsi/scalefactors/samples,
# intensity (joint) stereo sharing sample codes above the
# 4·(mode_extension+1) bound with per-channel scalefactors, and the
# single ISO 13818-3 LSF allocation table at half sample rates.
# Variants: v0 = MPEG-1 stereo (independent channels, table a),
# v1 = MPEG-1 joint stereo bound 8 (shared codes read from channel
# 0 — the oracle's `shared` flag), v2 = MPEG-2 LSF dual channel.
# Scalefactor indices stay multiples of 3 so the oracle's POWER()
# arithmetic replays the kernel's doubles bit-for-bit at 6 dp, the
# mono gate's strategy.
# ---------------------------------------------------------------------------

_MP3_L2S_SQL = """
WITH g AS (
  SELECT event_id AS id FROM events WHERE event_id % 20 = 16
),
bands(v, ch, subband, steps, grp, k, shared) AS (
  VALUES
    (0, 0, 0, 15, false, 4, false), (0, 0, 3, 5, true, 3, false),
    (0, 0, 12, 31, false, 5, false),
    (0, 1, 0, 7, false, 3, false), (0, 1, 5, 9, true, 4, false),
    (0, 1, 12, 3, true, 2, false),
    (1, 0, 1, 63, false, 6, false), (1, 1, 2, 3, true, 2, false),
    (1, 0, 9, 15, false, 4, true), (1, 1, 9, 15, false, 4, true),
    (1, 0, 20, 5, true, 3, true), (1, 1, 20, 5, true, 3, true),
    (2, 0, 0, 1023, false, 10, false), (2, 0, 6, 7, false, 3, false),
    (2, 0, 25, 3, true, 2, false),
    (2, 1, 0, 9, true, 4, false), (2, 1, 6, 5, true, 3, false),
    (2, 1, 25, 7, false, 3, false)
),
b AS (
  SELECT id, ch, subband, steps, grp, k, shared,
         (id + subband + ch) % 4 AS scfsi
  FROM g JOIN bands ON bands.v = id % 3
),
samp AS (
  SELECT id, ch, subband, steps, grp, k, shared, scfsi,
         UNNEST(generate_series(0, 35)) AS t
  FROM b
),
vals AS (
  SELECT id, ch, subband, steps, scfsi,
    (2.0 * POWER(2.0, -((id + subband + ch + (
        CASE scfsi
          WHEN 0 THEN (t // 12)
          WHEN 1 THEN CASE WHEN t // 12 < 2 THEN 0 ELSE 1 END
          WHEN 2 THEN 0
          ELSE CASE WHEN t // 12 = 0 THEN 0 ELSE 1 END
        END)) % 5)))
    * ((POWER(2.0, k) / steps)
       * (((t * (subband + 1) + id
            + CASE WHEN shared THEN 0 ELSE ch END) % steps)
          / POWER(2.0, k - 1)
          - 1 + CASE WHEN grp THEN 0.5
                     ELSE POWER(2.0, 1 - k) END)) AS x
  FROM samp
),
frames AS (
  SELECT id AS fid, UNNEST(generate_series(0, id % 2)) AS frame FROM g
)
SELECT v.id,
       CASE v.id % 3 WHEN 0 THEN 'stereo' WHEN 1 THEN 'joint'
            ELSE 'dual' END AS mode,
       CASE WHEN v.id % 3 = 2 THEN 'MPEG2' ELSE 'MPEG1' END
         AS version,
       CAST((v.id // 3) % 2 = 1 AS BOOLEAN) AS free_format,
       CAST(f.frame AS INT) AS frame,
       CAST(v.ch AS INT) AS channel,
       CAST(v.subband AS INT) AS subband,
       CAST(v.steps AS INT) AS steps,
       CAST(v.scfsi AS INT) AS scfsi,
       ROUND(SQRT(SUM(v.x * v.x) / 36.0), 6) AS rms
FROM vals v JOIN frames f ON v.id = f.fid
GROUP BY v.id, f.frame, v.ch, v.subband, v.steps, v.scfsi
"""

_L2S_CFG = {
    0: ("MPEG1", "stereo", 0, 44100, 128),
    1: ("MPEG1", "joint", 1, 44100, 128),
    2: ("MPEG2", "dual", 0, 22050, 64),
}
_L2S_ALLOC = {
    0: ({0: 3, 3: 2, 12: 6}, {0: 2, 5: 4, 12: 1}),
    1: ({1: 5, 9: 5, 20: 2}, {2: 1, 9: 5, 20: 2}),
    2: ({0: 11, 6: 3, 25: 1}, {0: 4, 6: 2, 25: 3}),
}


@register("multimodal_mp3_layer2_stereo_decode", _MP3_L2S_SQL)
def multimodal_mp3_layer2_stereo_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Layer II stereo/LSF decode end-to-end: build_mp3_layer2
    stereo-mode fixtures → decode_mp3_layer2_subbands → per-channel
    RMS envelopes. v1's joint-stereo bands 9/20 sit above the bound,
    so both channels decode the SAME codes under different
    scalefactors — a dequantization slip in the intensity path moves
    one channel's rms off the oracle."""
    from collections.abc import Iterator

    import pandas as pd

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        _L2_TABLES,
        _l2_select_table,
        build_mp3_layer2,
        decode_mp3_layer2_subbands,
    )

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 16
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for eid in pdf["id"]:
                e = int(eid)
                v = e % 3
                version, mode, mext, rate, kbps = _L2S_CFG[v]
                table = _l2_select_table(
                    rate, kbps // 2 if version == "MPEG1" else kbps
                )
                rows = _L2_TABLES[table]
                sbl = len(rows)
                allocs = []
                steps_of = {}
                for ch in (0, 1):
                    a = [0] * sbl
                    for sb, idx in _L2S_ALLOC[v][ch].items():
                        a[sb] = idx
                        steps_of[(ch, sb)] = rows[sb][1][idx - 1]
                    allocs.append(a)
                scfsis = [
                    [
                        (e + sb + ch) % 4 if allocs[ch][sb] else 0
                        for sb in range(sbl)
                    ]
                    for ch in (0, 1)
                ]
                payloads.append(
                    build_mp3_layer2(
                        sample_rate=rate,
                        bitrate_kbps=kbps,
                        mode=mode,
                        mode_ext=mext,
                        version=version,
                        alloc_idx=allocs,
                        scfsi=scfsis,
                        scf_idx=lambda ch, sb, j, _e=e: (
                            3 * ((_e + sb + j + ch) % 5)
                        ),
                        codes=lambda ch, t, sb, _e=e, _m=steps_of: (
                            (t * (sb + 1) + _e + ch) % _m[(ch, sb)]
                        ),
                        n_frames=1 + e % 2,
                        # (e//3)%2 rotates the free-format header
                        # (bitrate index 0): the decoder rediscovers
                        # the frame length by sync scan and the
                        # table from the implied bitrate
                        free_format=(e // 3) % 2 == 1,
                    )
                )
            yield pd.DataFrame({"id": pdf["id"].values, "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf["id"], pdf["payload"]):
                e = int(rid)
                version, mode, _, _, _ = _L2S_CFG[e % 3]
                for r in decode_mp3_layer2_subbands(bytes(blob)):
                    rows.append(
                        {"id": rid, "mode": mode, "version": version,
                         "free_format": (e // 3) % 2 == 1, **r}
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "mode", "version", "free_format", "frame",
                    "channel", "subband", "steps", "scfsi", "rms",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: decode(synth(it)),
        schema=(
            "id long, mode string, version string, "
            "free_format boolean, frame int, channel int, "
            "subband int, steps int, scfsi int, rms double"
        ),
    )


# ---------------------------------------------------------------------------
# Lossy JPEG 2000 (9/7 irreversible + ICT + scalar-expounded
# quantization) through the driver gate — the dominant real-world
# scanned-PDF JPX form. Lossy decode has no modular closed form, so
# this gate uses the verify-against-the-forward-transform strategy:
# the full marker/Tier-2/Tier-1/MQ decode of each codestream is
# compared ELEMENTWISE inside the query against the straight-line
# jpx97_reference_decode replay (fwd DWT → quantize → dequantize →
# inverse → round), and the PDF-path channel means must agree with
# the direct decode; the oracle pins dims plus those booleans. What
# the booleans genuinely verify: the entropy/packet/marker layer
# round-trips quantizer indices and (ε, μ) exactly, and /JPXDecode
# PDF plumbing agrees with the raw decode. The float wavelet itself
# is pinned against the published T.800 Table F.4 taps in
# tests/test_jpeg2000.py.
# ---------------------------------------------------------------------------

_PDF_JPX97_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id % 3 AS v
  FROM events WHERE event_id % 20 = 15
)
SELECT id,
       CAST(CASE v WHEN 0 THEN 16 WHEN 1 THEN 10 ELSE 16 END
            AS INT) AS width,
       CAST(CASE v WHEN 0 THEN 12 WHEN 1 THEN 10 ELSE 8 END
            AS INT) AS height,
       CAST(CASE WHEN v = 1 THEN 3 ELSE 1 END AS INT) AS n_channels,
       CAST(CASE v WHEN 1 THEN 1 ELSE 2 END AS INT) AS levels,
       CAST(CASE v WHEN 0 THEN 9 WHEN 1 THEN 8 ELSE 11 END
            AS INT) AS q_planes,
       CAST(v = 2 AS BOOLEAN) AS container,
       CAST(v = 1 AS BOOLEAN) AS subsampled,
       CAST('jpx' AS VARCHAR) AS codec,
       CAST('9/7' AS VARCHAR) AS transform,
       CAST(TRUE AS BOOLEAN) AS match_replay,
       CAST(TRUE AS BOOLEAN) AS pdf_means_match,
       CAST(TRUE AS BOOLEAN) AS err_bounded
FROM g
"""


@register("pdf_jpx97_image_extract", _PDF_JPX97_SQL)
def pdf_jpx97_image_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lossy 9/7 JPEG 2000 end-to-end: encode_jpx(irreversible=True)
    writes a scalar-expounded-quantized codestream, build_pdf embeds
    it behind /JPXDecode, and the gate checks three things per image:
    the raw decode equals the jpx97_reference_decode replay
    elementwise (match_replay), the PDF image-extraction channel
    means equal the direct decode's means (pdf_means_match), and the
    reconstruction error against the original stays within the
    documented bound (err_bounded, an empirical regression bound).
    Variants: v0 = 2-level grayscale qp9, v1 = 1-level RGB through
    the ICT qp8 with 4:2:0 CHROMA SUBSAMPLING (XRsiz=YRsiz=2 in SIZ;
    pixels are constant on the 2x2 grid so block-mean downsampling +
    replication upsampling are exact and quantization stays the only
    error), v2 = JP2 container 2-level qp11."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 15
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def _variant(e: int):
        v = e % 3
        if v == 0:
            return v, 16, 12, 2, 9, False
        if v == 1:
            return v, 10, 10, 1, 8, False
        return v, 16, 8, 2, 11, True

    def _pixels(e: int, w: int, h: int, rgb: bool) -> np.ndarray:
        yy, xx = np.mgrid[0:h, 0:w]
        if not rgb:
            return (((xx + 1) * (yy + 2) + e) % 256).astype(np.int64)
        # the RGB variant feeds the 4:2:0 path: every channel is
        # CONSTANT on the 2x2 subsampling grid, so block-mean
        # downsampling and replication upsampling reproduce the
        # chroma exactly and err_bounded stays a quantization bound
        bx, by = xx // 2, yy // 2
        g0 = ((bx + 1) * (by + 2) + e) % 256
        g1 = (bx * 3 + by * 5 + e + 1) % 256
        g2 = (bx * 7 + by * 2 + e + 2) % 256
        return np.stack([g0, g1, g2], axis=-1).astype(np.int64)

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.jpeg2000 import (
            encode_jpx,
        )

        for pdf in batches:
            rows = []
            for eid in pdf["id"]:
                e = int(eid)
                v, w, h, lv, qp, cont = _variant(e)
                arr = _pixels(e, w, h, v == 1)
                sub = (2, 2) if v == 1 else None
                cs = encode_jpx(
                    arr, levels=lv, irreversible=True, q_planes=qp,
                    jp2_container=cont, subsample=sub,
                )
                # embed the codestream just built — encode_jpx is
                # deterministic, so re-encoding inside build_pdf
                # would produce the identical bytes at double cost
                blob = build_pdf(
                    [[f"jpx97 {e}"]],
                    page_images=[[("jpx_stream", cs, w, h)]],
                )
                rows.append(
                    {"id": eid, "payload": blob, "codestream": cs}
                )
            yield pd.DataFrame(
                rows, columns=["id", "payload", "codestream"]
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.jpeg2000 import (
            decode_jpx,
            jpx97_reference_decode,
        )

        for pdf in batches:
            rows = []
            for rid, blob, cs in zip(
                pdf["id"], pdf["payload"], pdf["codestream"]
            ):
                e = int(rid)
                v, w, h, lv, qp, cont = _variant(e)
                arr = _pixels(e, w, h, v == 1)
                m = decode_jpx(bytes(cs))
                ref = jpx97_reference_decode(
                    arr, levels=lv, q_planes=qp,
                    subsample=(2, 2) if v == 1 else None,
                )
                got = m["samples"]
                match_replay = (
                    m["transform"] == "9/7"
                    and got.shape == ref.shape
                    and bool((got == ref).all())
                )
                orig = arr if arr.ndim == 3 else arr[..., None]
                err_bounded = bool(
                    np.abs(got - orig).max() <= 4
                )
                # the PDF path reports round(mean*255/max, 4) per
                # channel — recompute from the direct decode
                exp_means = [
                    round(float(x), 4)
                    for x in got.astype(np.float64).mean(axis=(0, 1))
                ]
                pmm = False
                for r in pdf_images(bytes(blob)):
                    pmm = (
                        r["codec"] == "jpx"
                        and (r["width"], r["height"]) == (w, h)
                        and r["channel_means"] == exp_means
                    )
                rows.append(
                    {
                        "id": rid,
                        "width": w,
                        "height": h,
                        "n_channels": int(got.shape[2]),
                        "levels": lv,
                        "q_planes": qp,
                        "container": cont,
                        "subsampled": v == 1,
                        "codec": "jpx",
                        "transform": m["transform"],
                        "match_replay": match_replay,
                        "pdf_means_match": pmm,
                        "err_bounded": err_bounded,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "n_channels", "levels",
                    "q_planes", "container", "subsampled", "codec",
                    "transform", "match_replay", "pdf_means_match",
                    "err_bounded",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, n_channels int, "
            "levels int, q_planes int, container boolean, "
            "subsampled boolean, codec string, transform string, "
            "match_replay boolean, pdf_means_match boolean, "
            "err_bounded boolean"
        ),
    )


# ---------------------------------------------------------------------------
# JPEG 2000 structural closure through the driver gate (r13): the
# Annex A/B features that fire on real scanned-PDF JPX now that 9/7
# itself decodes — truncated coding passes + scalar DERIVED
# quantization, tile grids, quality layers, all five progression
# orders, user precincts + SOP/EPH, COC/QCC per-component overrides,
# and implicit maxshift ROI. Five variants rotate by event id; every
# lossy decode must equal the shared-front-end replay ELEMENTWISE
# (the replay runs the same _encode_front/_reconstruct_tc floats with
# no codestream between, so the comparison pins the marker/Tier-2/
# Tier-1/MQ layers round-tripping the quantizer indices exactly), and
# the reversible ROI variant must equal the original exactly.
# ---------------------------------------------------------------------------

_PDF_JPX_STRUCT_SQL = """
WITH g AS (
  SELECT event_id AS id, (event_id // 40) % 5 AS v
  FROM events WHERE event_id % 40 = 21
)
SELECT id,
       CAST(CASE v WHEN 0 THEN 24 WHEN 1 THEN 16 WHEN 2 THEN 32
                   WHEN 3 THEN 16 ELSE 24 END AS INT) AS width,
       CAST(CASE v WHEN 0 THEN 16 WHEN 1 THEN 16 WHEN 2 THEN 24
                   WHEN 3 THEN 12 ELSE 24 END AS INT) AS height,
       CAST(CASE WHEN v IN (1, 3) THEN 3 ELSE 1 END AS INT)
           AS n_channels,
       CASE v WHEN 0 THEN 'RLCP' WHEN 1 THEN 'RPCL' WHEN 2 THEN 'CPRL'
              WHEN 3 THEN 'PCRL' ELSE 'LRCP' END AS progression,
       CAST(CASE WHEN v = 4 THEN '5/3' ELSE '9/7' END AS VARCHAR)
           AS transform,
       CAST(v = 0 AS BOOLEAN) AS derived,
       CAST(CASE WHEN v = 0 THEN 2 ELSE 0 END AS INT)
           AS truncated_planes,
       CAST(CASE WHEN v = 1 THEN 4 ELSE 1 END AS INT) AS n_tiles,
       CAST(CASE v WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 1 END AS INT)
           AS n_layers,
       CAST(v IN (2, 4) AS BOOLEAN) AS precincted,
       CAST(v = 3 AS BOOLEAN) AS comp_overrides,
       CAST(v = 4 AS BOOLEAN) AS roi,
       CAST(TRUE AS BOOLEAN) AS match_replay,
       CAST(TRUE AS BOOLEAN) AS err_bounded
FROM g
"""


@register("pdf_jpx_structured_extract", _PDF_JPX_STRUCT_SQL)
def pdf_jpx_structured_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JPEG 2000 structural-variant rotation (r13): encode_jpx writes
    real codestreams exercising, by ``(id // 40) % 5``:

    * v0 — scalar DERIVED quantization (one QCD pair, E-5) + two
      whole magnitude planes TRUNCATED per code-block
      (npasses < 3·planes−2, the rate-allocation shape every real
      lossy encoder emits), RLCP order, rough gray pixels so the
      truncation genuinely bites;
    * v1 — a 2×2 TILE GRID (B.3) with RPCL order and 3 quality
      layers whose per-block codeword segments split at coding-pass
      boundaries, RGB through the ICT;
    * v2 — user PRECINCTS (PPx=PPy=4) with 8×8 code-blocks,
      SOP + EPH markers, CPRL order, 2 layers;
    * v3 — COC/QCC per-component overrides (component 1 decomposes
      2 levels vs the COD default 1; every component carries its own
      QCC), PCRL order;
    * v4 — implicit maxshift RGN ROI on the REVERSIBLE 5/3 path with
      precincts — the ROI upshift is exactly invertible, so the
      decode must equal the original bit for bit.

    ``match_replay`` asserts the full marker/Tier-2/Tier-1/MQ decode
    equals jpx97_reference_decode (which replays the same shared
    front-end floats with no codestream) elementwise for v0–v3, and
    exact original equality for v4. ``err_bounded`` pins the
    reconstruction error against the original to per-variant
    empirical bounds (16/4/4/4/0)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 40 == 21
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def _pixels(e: int, w: int, h: int, rgb: bool, rough: bool):
        yy, xx = np.mgrid[0:h, 0:w]
        if rough:
            return (
                (((xx + 1) * (yy + 2)) ** 2 + e * 3) % 256
            ).astype(np.int64)
        if not rgb:
            return (((xx + 1) * (yy + 2) + e) % 256).astype(np.int64)
        g0 = ((xx + 1) * (yy + 2) + e) % 256
        g1 = (xx * 3 + yy * 5 + e + 1) % 256
        g2 = (xx * 7 + yy * 2 + e + 2) % 256
        return np.stack([g0, g1, g2], axis=-1).astype(np.int64)

    _VARIANTS = {
        0: dict(w=24, h=16, rgb=False, rough=True, prog="RLCP",
                bound=16,
                kw=dict(levels=2, irreversible=True, q_planes=9,
                        derived=True, truncate_planes=2,
                        progression="RLCP"),
                rkw=dict(levels=2, q_planes=9, derived=True,
                         truncate_planes=2)),
        1: dict(w=16, h=16, rgb=True, rough=False, prog="RPCL",
                bound=4,
                kw=dict(levels=1, irreversible=True, q_planes=9,
                        tiles=(8, 8), progression="RPCL", layers=3),
                rkw=dict(levels=1, q_planes=9, tiles=(8, 8))),
        2: dict(w=32, h=24, rgb=False, rough=True, prog="CPRL",
                bound=4,
                kw=dict(levels=2, irreversible=True, q_planes=10,
                        precincts=(4, 4), cb_exp=(3, 3), sop=True,
                        eph=True, progression="CPRL", layers=2),
                rkw=dict(levels=2, q_planes=10)),
        3: dict(w=16, h=12, rgb=True, rough=False, prog="PCRL",
                bound=4,
                kw=dict(levels=1, irreversible=True, q_planes=9,
                        coc_levels={1: 2}, qcc=True,
                        progression="PCRL"),
                rkw=dict(levels=1, q_planes=9, coc_levels={1: 2},
                         qcc=True)),
        4: dict(w=24, h=24, rgb=False, rough=True, prog="LRCP",
                bound=0,
                kw=dict(levels=2, rgn=[0], precincts=(4, 4),
                        cb_exp=(3, 3)),
                rkw=None),
    }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.jpeg2000 import (
            decode_jpx,
            encode_jpx,
            jpx97_reference_decode,
        )

        for pdf in batches:
            rows = []
            for eid in pdf["id"]:
                e = int(eid)
                v = (e // 40) % 5
                spec = _VARIANTS[v]
                arr = _pixels(e, spec["w"], spec["h"], spec["rgb"],
                              spec["rough"])
                m = decode_jpx(encode_jpx(arr, **spec["kw"]))
                got = m["samples"]
                if spec["rkw"] is None:
                    # reversible ROI: exact original equality IS the
                    # replay check
                    orig3 = arr[..., None]
                    match = bool((got == orig3).all())
                    err = 0 if match else 255
                else:
                    ref = jpx97_reference_decode(arr, **spec["rkw"])
                    match = (
                        got.shape == ref.shape
                        and bool((got == ref).all())
                    )
                    orig3 = arr if arr.ndim == 3 else arr[..., None]
                    err = int(np.abs(got - orig3).max())
                rows.append({
                    "id": e,
                    "width": spec["w"],
                    "height": spec["h"],
                    "n_channels": int(got.shape[2]),
                    "progression": spec["prog"],
                    "transform": m["transform"],
                    "derived": v == 0,
                    "truncated_planes": 2 if v == 0 else 0,
                    "n_tiles": 4 if v == 1 else 1,
                    "n_layers": {1: 3, 2: 2}.get(v, 1),
                    "precincted": v in (2, 4),
                    "comp_overrides": v == 3,
                    "roi": v == 4,
                    "match_replay": match,
                    "err_bounded": err <= spec["bound"],
                })
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "n_channels",
                    "progression", "transform", "derived",
                    "truncated_planes", "n_tiles", "n_layers",
                    "precincted", "comp_overrides", "roi",
                    "match_replay", "err_bounded",
                ],
            )

    return ev.mapInPandas(
        run,
        schema=(
            "id long, width int, height int, n_channels int, "
            "progression string, transform string, derived boolean, "
            "truncated_planes int, n_tiles int, n_layers int, "
            "precincted boolean, comp_overrides boolean, roi boolean, "
            "match_replay boolean, err_bounded boolean"
        ),
    )


# ---------------------------------------------------------------------------
# FLAC decode to PCM through the driver gate (r13): the one
# mainstream compressed-audio format whose every decoding structure
# is stream-defined (no memorized-constants gate), so the engine can
# verify EXACT PCM equality — a stronger oracle than any subband
# envelope. Five variants rotate subframe types (constant/verbatim/
# fixed 0-4/LPC), stereo decorrelation (left_side/mid_side), Rice vs
# Rice2 partitions with an escape partition, wasted bits, 8/16/24
# bps, explicit sample-rate coding and a partial final block; the
# decode also re-verifies the frame CRC-8/CRC-16 and the STREAMINFO
# MD5 over the reconstructed PCM.
# ---------------------------------------------------------------------------

_FLAC_SQL = """
WITH g AS (
  SELECT event_id AS id, (event_id // 40) % 5 AS v
  FROM events WHERE event_id % 40 = 3
)
SELECT id,
       CAST(v AS INT) AS variant,
       CAST(CASE WHEN v IN (1, 2) THEN 2 ELSE 1 END AS INT)
           AS n_channels,
       CAST(CASE v WHEN 3 THEN 24 WHEN 4 THEN 8 ELSE 16 END AS INT)
           AS bps,
       CAST(CASE v WHEN 3 THEN 192 ELSE 256 END AS INT)
           AS block_size,
       CAST(CASE v WHEN 0 THEN 600 WHEN 1 THEN 512 WHEN 2 THEN 450
                   WHEN 3 THEN 384 ELSE 500 END AS INT) AS n_samples,
       CASE v WHEN 1 THEN 'mid_side' WHEN 2 THEN 'left_side'
              ELSE 'independent' END AS channel_mode,
       CAST(TRUE AS BOOLEAN) AS pcm_match,
       CAST(TRUE AS BOOLEAN) AS md5_ok
FROM g
"""


@register("multimodal_flac_decode", _FLAC_SQL)
def multimodal_flac_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FLAC end-to-end (operators/flac.py): encode_flac writes a
    conformant stream per event, decode_flac reconstructs PCM, and
    because FLAC is lossless the gate is EXACT sample equality plus
    the decoder's own CRC-8/CRC-16/MD5 verification. Variants by
    ``(id // 40) % 5``: v0 mono 16-bit rotating the five FIXED
    orders with Rice partitions; v1 MID/SIDE stereo (LPC + fixed,
    the side channel at bps+1); v2 LEFT/SIDE stereo with Rice2 and a
    partial final block; v3 mono 24-bit LPC-6 with an ESCAPE
    partition, explicit 16-bit sample-rate code and 192-sample
    blocks; v4 mono 8-bit with 2 WASTED bits."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 40 == 3
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def _wave(e: int, n: int, amp: int, ch: int = 1) -> np.ndarray:
        t = np.arange(n, dtype=np.int64)
        a = e % 17 + 3
        base = ((t * a + (t * t) // 7) % (2 * amp)) - amp
        if ch == 1:
            return base
        other = ((t * (a + 5) + e) % (2 * amp)) - amp
        return np.stack([base, other], axis=-1)

    _VARIANTS = {
        0: dict(n=600, ch=1, amp=20000,
                kw=dict(bits_per_sample=16, block_size=256,
                        subframe_kinds=["fixed0", "fixed1", "fixed2",
                                        "fixed3", "fixed4"],
                        partition_order=2)),
        1: dict(n=512, ch=2, amp=15000,
                kw=dict(bits_per_sample=16, block_size=256,
                        channel_mode="mid_side",
                        subframe_kinds=["lpc4", "fixed2"],
                        partition_order=1)),
        2: dict(n=450, ch=2, amp=15000,
                kw=dict(bits_per_sample=16, block_size=256,
                        channel_mode="left_side",
                        subframe_kinds=["verbatim", "lpc8"],
                        rice2=True, partition_order=1)),
        3: dict(n=384, ch=1, amp=(1 << 22),
                kw=dict(bits_per_sample=24, block_size=192,
                        subframe_kinds=["lpc6"], escape_first=True,
                        partition_order=1, sr_code=13)),
        4: dict(n=500, ch=1, amp=120,
                kw=dict(bits_per_sample=8, block_size=256,
                        subframe_kinds=["fixed1", "verbatim"],
                        wasted=2)),
    }

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.flac import (
            decode_flac,
            encode_flac,
        )

        for pdf in batches:
            rows = []
            for eid in pdf["id"]:
                e = int(eid)
                v = (e // 40) % 5
                spec = _VARIANTS[v]
                arr = _wave(e, spec["n"], spec["amp"], spec["ch"])
                if v == 4:
                    arr = (arr // 4) * 4  # carry the 2 wasted bits
                m = decode_flac(encode_flac(arr, **spec["kw"]))
                orig = arr if arr.ndim == 2 else arr[:, None]
                rows.append({
                    "id": e,
                    "variant": v,
                    "n_channels": m["n_channels"],
                    "bps": m["bits_per_sample"],
                    "block_size": spec["kw"]["block_size"],
                    "n_samples": m["n_samples"],
                    "channel_mode": spec["kw"].get(
                        "channel_mode", "independent"
                    ),
                    "pcm_match": bool(
                        m["samples"].shape == orig.shape
                        and (m["samples"] == orig).all()
                    ),
                    "md5_ok": m["md5_ok"] is True,
                })
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "variant", "n_channels", "bps",
                    "block_size", "n_samples", "channel_mode",
                    "pcm_match", "md5_ok",
                ],
            )

    return ev.mapInPandas(
        run,
        schema=(
            "id long, variant int, n_channels int, bps int, "
            "block_size int, n_samples int, channel_mode string, "
            "pcm_match boolean, md5_ok boolean"
        ),
    )


# ---------------------------------------------------------------------------
# JPEG-in-TIFF (Compression 7, TIFF TechNote 2) + PlanarConfiguration
# 2 through the driver gate (r13): archival scanners emit both. Flat
# grayscale variants are EXACT through baseline JPEG (no color
# transform, all-ones quantization), so their luma is closed-form;
# the RGB JPEG variant is verified by per-strip consistency against
# the raw JPEG layer (means_consistent), and the planar variant is
# lossless with the established closed-form ramp mean.
# ---------------------------------------------------------------------------

_TIFF_JPEG_PLANAR_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k
  FROM events WHERE event_id % 20 = 13
)
SELECT id,
       CAST(CASE k % 4 WHEN 1 THEN 47 WHEN 0 THEN 40 ELSE 48 END
            AS INT) AS width,
       CAST(CASE k % 4 WHEN 1 THEN 33 ELSE 24 END AS INT) AS height,
       CAST(CASE WHEN k % 4 IN (0, 1) THEN 1 ELSE 3 END AS INT)
           AS n_channels,
       CAST(CASE WHEN k % 4 = 3 THEN 5 ELSE 7 END AS INT)
           AS compression,
       CAST(k % 4 = 1 AS BOOLEAN) AS tiled,
       CAST(k % 4 = 3 AS BOOLEAN) AS planar,
       CAST(k % 2 = 1 AS BOOLEAN) AS jpeg_tables,
       CAST(TRUE AS BOOLEAN) AS means_consistent,
       CASE k % 4
         WHEN 0 THEN ROUND(CAST(id % 200 + 20 AS DOUBLE), 4)
         WHEN 1 THEN ROUND(CAST(id % 150 + 40 AS DOUBLE), 4)
         WHEN 2 THEN -1.0
         ELSE ROUND((CAST(id % 100 AS DOUBLE) + 11) * 0.299
                    + (CAST((id + 31) % 100 AS DOUBLE) + 11) * 0.587
                    + (CAST((id + 62) % 100 AS DOUBLE) + 11) * 0.114,
                    4)
       END AS luma_mean
FROM g
"""


@register("multimodal_tiff_jpeg_planar_decode", _TIFF_JPEG_PLANAR_SQL)
def multimodal_tiff_jpeg_planar_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """New-style JPEG-in-TIFF and planar organization end-to-end, by
    ``(id // 20) % 4``: v0 flat-gray JPEG strips (exact — baseline
    JPEG with the all-ones table is lossless on flat tiles); v1
    flat-gray JPEG TILES with the DQT/DHT externalized into the
    JPEGTables tag (abbreviated per-tile streams, edge tiles padded);
    v2 RGB JPEG strips whose channel means must equal the raw
    per-strip JPEG decode exactly (means_consistent — the TIFF layer
    adds nothing lossy on top of the JPEG layer); v3
    PlanarConfiguration-2 LZW+Predictor-2 RGB ramp (lossless,
    closed-form luma). Odd k routes JPEG variants through
    jpeg_tables=True."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 13
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.media_codecs import (
            _decode_jpeg_pixels,
            decode_tiff,
            encode_jpeg,
            encode_tiff,
        )

        # same outer-sum construction as the other TIFF queries,
        # tiled to full cycles: mean(0..7) + mean(0..15) = 11, so
        # each channel mean is id-affine and luma is closed-form
        ramp = np.add.outer(
            np.tile(np.arange(8), 3),        # 24 rows
            np.tile(np.arange(16), 3),       # 48 cols
        )

        def _one(e: int) -> dict:
            k = e // 20
            v = k % 4
            tables = k % 2 == 1
            consistent = True
            if v == 0:
                px = np.full((24, 40), e % 200 + 20, np.uint8)
                blob = encode_tiff(px, compression="jpeg",
                                   rows_per_strip=8,
                                   jpeg_tables=tables)
            elif v == 1:
                px = np.full((33, 47), e % 150 + 40, np.uint8)
                blob = encode_tiff(px, compression="jpeg",
                                   tile_wh=(16, 16),
                                   jpeg_tables=tables)
            elif v == 2:
                px = np.zeros((24, 48, 3), np.uint8)
                for c in range(3):
                    px[:, :, c] = (ramp + (e + 31 * c) % 100).astype(
                        np.uint8
                    )
                blob = encode_tiff(px, compression="jpeg",
                                   rows_per_strip=8,
                                   jpeg_tables=tables)
            else:
                px = np.zeros((24, 48, 3), np.uint8)
                for c in range(3):
                    px[:, :, c] = (ramp + (e + 31 * c) % 100).astype(
                        np.uint8
                    )
                blob = encode_tiff(px, compression="lzw",
                                   predictor=2, planar=2,
                                   rows_per_strip=8)
            m = decode_tiff(blob)
            if v == 2:
                acc = np.zeros((24, 48, 3))
                for r in range(0, 24, 8):
                    blk = _decode_jpeg_pixels(
                        encode_jpeg(px[r:r + 8])
                    )
                    acc[r:r + 8] = blk[:8]
                exp = [
                    round(float(x), 4) for x in acc.mean(axis=(0, 1))
                ]
                consistent = m["channel_means"] == exp
                luma = -1.0
            else:
                luma = m["luma_mean"]
            return {
                "id": e,
                "width": m["width"],
                "height": m["height"],
                "n_channels": m["n_channels"],
                "compression": m["compression"],
                "tiled": m["tiled"],
                "planar": v == 3,
                "jpeg_tables": tables,
                "means_consistent": bool(consistent),
                "luma_mean": luma,
            }

        for pdf in batches:
            rows = [_one(int(eid)) for eid in pdf["id"]]
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "n_channels",
                    "compression", "tiled", "planar", "jpeg_tables",
                    "means_consistent", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        run,
        schema=(
            "id long, width int, height int, n_channels int, "
            "compression int, tiled boolean, planar boolean, "
            "jpeg_tables boolean, means_consistent boolean, "
            "luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# FLAC → spectral features through the driver gate (r13): the same
# closed-form square-wave DSP oracle as multimodal_wav_spectral, but
# the PCM now travels through a REAL compressed-audio codec — FLAC is
# lossless, so zero crossings, the dominant FFT bin, rms and peak
# stay exact closed forms of the construction. This is the "FFT
# feature layer on real compressed audio" the WAV path could only
# prove on uncompressed input.
# ---------------------------------------------------------------------------

_FLAC_SPECTRAL_SQL = """
SELECT event_id AS id,
       CASE (event_id // 20) % 3 WHEN 0 THEN 'fixed2'
            WHEN 1 THEN 'lpc4' ELSE 'verbatim' END AS subframe,
       CAST(8000 AS INT) AS sample_rate,
       CAST(2 * ((event_id % 9) + 2) * ((event_id % 20) + 10) AS INT)
           AS n_samples,
       CAST(TRUE AS BOOLEAN) AS pcm_match,
       CAST(2 * ((event_id % 20) + 10) - 1 AS INT) AS zero_crossings,
       ROUND(8000.0 / (2 * ((event_id % 9) + 2)), 4)
           AS dominant_freq_hz,
       ROUND(((event_id % 40) + 20) * 512 / 32768.0, 6) AS rms,
       ROUND(((event_id % 40) + 20) * 512 / 32768.0, 6) AS peak
FROM events WHERE event_id % 20 = 9
"""


@register("multimodal_flac_spectral", _FLAC_SPECTRAL_SQL)
def multimodal_flac_spectral(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Square-wave PCM → encode_flac (subframe type rotating by
    (id//20)%3) → decode_flac → the WAV-path DSP features computed
    from the RECONSTRUCTED samples: FLAC losslessness keeps every
    feature the closed form of the construction — zero crossings
    2c−1, dominant bin at the fundamental 8000/(2m) Hz, rms = peak =
    a/32768 (a a multiple of 512, dyadic at 6 dp). pcm_match
    additionally pins exact sample equality."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 9
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ccgp_data_wrangling_spark.operators.flac import (
            decode_flac,
            encode_flac,
        )

        kinds = ["fixed2", "lpc4", "verbatim"]
        for pdf in batches:
            rows = []
            for eid in pdf["id"]:
                e = int(eid)
                m = (e % 9) + 2
                c = (e % 20) + 10
                a = ((e % 40) + 20) * 512
                half = np.full(m, a, np.int64)
                wave_ = np.tile(
                    np.concatenate([half, -half]), c
                )
                kind = kinds[(e // 20) % 3]
                blob = encode_flac(
                    wave_, sample_rate=8000, bits_per_sample=16,
                    block_size=256, subframe_kinds=[kind],
                )
                dec = decode_flac(blob)
                x = dec["samples"][:, 0].astype(np.float64)
                pcm_match = bool(
                    dec["sample_rate"] == 8000
                    and (dec["samples"][:, 0] == wave_).all()
                )
                xs = x / 32768.0
                zc = int(np.sum(
                    np.sign(xs[1:]) != np.sign(xs[:-1])
                ))
                mag = np.abs(np.fft.rfft(xs))
                kbin = int(np.argmax(mag[1:])) + 1
                rows.append({
                    "id": e,
                    "subframe": kind,
                    "sample_rate": 8000,
                    "n_samples": int(xs.size),
                    "pcm_match": pcm_match,
                    "zero_crossings": zc,
                    "dominant_freq_hz": round(
                        float(kbin * 8000 / xs.size), 4
                    ),
                    "rms": round(
                        float(np.sqrt(np.mean(xs**2))), 6
                    ),
                    "peak": round(float(np.max(np.abs(xs))), 6),
                })
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "subframe", "sample_rate", "n_samples",
                    "pcm_match", "zero_crossings",
                    "dominant_freq_hz", "rms", "peak",
                ],
            )

    return ev.mapInPandas(
        run,
        schema=(
            "id long, subframe string, sample_rate int, "
            "n_samples int, pcm_match boolean, zero_crossings int, "
            "dominant_freq_hz double, rms double, peak double"
        ),
    )


# ---------------------------------------------------------------------------
# JBIG2 REFAGGNINST > 1 through the driver gate (r12): a symbol
# dictionary whose new symbol is a full §6.5.8.2.1 NESTED TEXT
# REGION — multiple strips, plain and IARI-refined instances, all
# over the dictionary's persistent integer contexts — mixed with a
# single-instance SDREFAGG symbol in the same dictionary so both
# IAAI branches run per stream. Base glyphs carry exactly 5 black
# pixels, refined patterns 6; the aggregate composes 2 plain + 1
# refined instance without overlap (16 black), so the page luma is
# closed-form: 5n + 6 + 16 black pixels on a 32x16 page.
# ---------------------------------------------------------------------------

_PDF_JBIG2_AGG_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k, event_id % 3 + 2 AS n
  FROM events WHERE event_id % 20 = 7
)
SELECT id,
       CAST(32 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(k % 2 AS INT) AS rtemplate,
       CASE k % 4 WHEN 0 THEN 'tl' WHEN 1 THEN 'bl'
                  WHEN 2 THEN 'tr' ELSE 'br' END AS refcorner,
       CAST(3 AS INT) AS refagg_ninst,
       CAST('jbig2' AS VARCHAR) AS codec,
       ROUND(255.0 * (512 - (5 * n + 22)) / 512.0, 4) AS luma_mean
FROM g
"""


@register("pdf_jbig2_agg_extract", _PDF_JBIG2_AGG_SQL)
def pdf_jbig2_agg_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """REFAGGNINST>1 path end-to-end: the SDREFAGG dictionary's
    second new symbol is an aggregate of three instances (two plain
    id-rotated base glyphs in one strip, one refinement-coded
    instance in a second strip), decoded as a nested text region;
    build_pdf embeds the stream behind /JBIG2Decode. Black pixels:
    n bases (5 each) + one single-instance refined symbol (6) + the
    16-pixel aggregate — any slip in the nested strip walk, the
    shared integer contexts or the per-instance IARI refinement
    moves the closed-form luma."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.jbig2 import (
        build_jbig2_refagg_text_embedded,
    )
    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 7
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    _GLYPHS = (
        np.array([[1, 0, 1], [0, 1, 0], [1, 0, 1]], bool),  # X
        np.array([[0, 1, 0], [1, 1, 1], [0, 1, 0]], bool),  # +
        np.array([[1, 1, 1], [0, 1, 0], [0, 1, 0]], bool),  # T
    )
    _REF_A = np.zeros((4, 4), bool)
    _REF_A[0, 0] = _REF_A[0, 3] = _REF_A[1, 1] = True
    _REF_A[2, 2] = _REF_A[3, 0] = _REF_A[3, 3] = True
    _RC = ("tl", "bl", "tr", "br")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, rts, rcs = [], [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                n = e % 3 + 2
                agg = {
                    "shape": (8, 8),
                    "agg": [
                        (e % 3, 0, 0),
                        ((e + 1) % 3, 4, 0),
                        ((e + 2) % 3, 1, 4, {
                            "bitmap": _REF_A,
                            "rdx": e % 3 - 1,
                            "rdy": (e // 3) % 3 - 1,
                        }),
                    ],
                }
                refined = [
                    (e % 3, _REF_A, e % 3 - 1, (e // 3) % 3 - 1),
                    agg,
                ]
                insts = [
                    ((e + i) % 3, 1 + 6 * i, 2) for i in range(n)
                ] + [(3, 26, 2), (4, 2, 8)]
                stream = build_jbig2_refagg_text_embedded(
                    list(_GLYPHS), refined, insts, (32, 16),
                    rtemplate=k % 2, refcorner=_RC[k % 4],
                )
                payloads.append(
                    build_pdf(
                        [[f"jbig2 agg {e}"]],
                        page_images=[[("jbig2_stream", stream, 32, 16)]],
                    )
                )
                rts.append(k % 2)
                rcs.append(_RC[k % 4])
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "rtemplate": rts,
                    "refcorner": rcs,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, rt, rc, blob in zip(
                pdf["id"], pdf["rtemplate"], pdf["refcorner"],
                pdf["payload"],
            ):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "rtemplate": rt,
                            "refcorner": rc,
                            "refagg_ninst": 3,
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "rtemplate", "refcorner",
                    "refagg_ninst", "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, rtemplate int, "
            "refcorner string, refagg_ninst int, codec string, "
            "luma_mean double"
        ),
    )


# ---------------------------------------------------------------------------
# JBIG2 SDREFAGG extraction through the driver gate — the
# refinement-coded symbol dictionary (T.88 §6.5.8.2): a generic base
# dictionary, a second dictionary whose NEW symbols are each coded as
# IAAI=1 + IAID + IARDX/IARDY + a §6.3 refinement of a base symbol,
# and a text region over the combined alphabet. Bases carry exactly
# 5 black pixels and both refined patterns exactly 6, so the page
# luma is closed-form whatever the id-driven reference/offset
# rotation picks; k%2 rotates the refinement template, k%4 the
# placement corner.
# ---------------------------------------------------------------------------

_PDF_JBIG2_REFAGG_SQL = """
WITH g AS (
  SELECT event_id AS id, event_id // 20 AS k, event_id % 3 + 2 AS n
  FROM events WHERE event_id % 20 = 7
)
SELECT id,
       CAST(32 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(k % 2 AS INT) AS rtemplate,
       CASE k % 4 WHEN 0 THEN 'tl' WHEN 1 THEN 'bl'
                  WHEN 2 THEN 'tr' ELSE 'br' END AS refcorner,
       CAST('jbig2' AS VARCHAR) AS codec,
       ROUND(255.0 * (512 - (5 * n + 12)) / 512.0, 4) AS luma_mean
FROM g
"""


@register("pdf_jbig2_refagg_extract", _PDF_JBIG2_REFAGG_SQL)
def pdf_jbig2_refagg_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SDREFAGG path end-to-end: build_jbig2_refagg_text_embedded
    writes page-info + generic base dictionary + refinement-coded
    dictionary (every new symbol IAAI=1 aggregate-refined from an
    id-rotated base with id-rotated IARDX/IARDY offsets) + text
    region over the combined alphabet; build_pdf embeds the stream
    behind /JBIG2Decode and pdf_images decodes the composed page.
    Base glyphs have 5 black pixels, refined patterns 6 — black =
    5n + 12 in closed form; a refinement-decode slip shifts it."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from ccgp_data_wrangling_spark.operators.jbig2 import (
        build_jbig2_refagg_text_embedded,
    )
    from ccgp_data_wrangling_spark.sources.pdf import build_pdf, pdf_images

    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_id") % 20 == 7
    ).select(F.col("event_id").alias("id")).repartition(
        spark.sparkContext.defaultParallelism
    )

    _GLYPHS = (
        np.array([[1, 0, 1], [0, 1, 0], [1, 0, 1]], bool),  # X
        np.array([[0, 1, 0], [1, 1, 1], [0, 1, 0]], bool),  # +
        np.array([[1, 1, 1], [0, 1, 0], [0, 1, 0]], bool),  # T
    )
    # refined outputs: 4×4 patterns with EXACTLY 6 black pixels
    _REF_A = np.zeros((4, 4), bool)
    _REF_A[0, 0] = _REF_A[0, 3] = _REF_A[1, 1] = True
    _REF_A[2, 2] = _REF_A[3, 0] = _REF_A[3, 3] = True
    _REF_B = np.zeros((4, 4), bool)
    _REF_B[0, 1] = _REF_B[1, 0] = _REF_B[1, 3] = True
    _REF_B[2, 1] = _REF_B[3, 2] = _REF_B[2, 3] = True
    _RC = ("tl", "bl", "tr", "br")

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads, rts, rcs = [], [], []
            for eid in pdf["id"]:
                e = int(eid)
                k = e // 20
                n = e % 3 + 2
                refined = [
                    (e % 3, _REF_A, e % 3 - 1, (e // 3) % 3 - 1),
                    ((e + 1) % 3, _REF_B, (e // 9) % 3 - 1, e % 2),
                ]
                insts = [
                    ((e + i) % 3, 1 + 6 * i, 2) for i in range(n)
                ] + [(3, 26, 2), (4, 26, 10)]
                stream = build_jbig2_refagg_text_embedded(
                    list(_GLYPHS), refined, insts, (32, 16),
                    rtemplate=k % 2, refcorner=_RC[k % 4],
                )
                payloads.append(
                    build_pdf(
                        [[f"jbig2 refagg {e}"]],
                        page_images=[[("jbig2_stream", stream, 32, 16)]],
                    )
                )
                rts.append(k % 2)
                rcs.append(_RC[k % 4])
            yield pd.DataFrame(
                {
                    "id": pdf["id"].values,
                    "rtemplate": rts,
                    "refcorner": rcs,
                    "payload": payloads,
                }
            )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, rt, rc, blob in zip(
                pdf["id"], pdf["rtemplate"], pdf["refcorner"],
                pdf["payload"],
            ):
                for r in pdf_images(bytes(blob)):
                    rows.append(
                        {
                            "id": rid,
                            "width": r["width"],
                            "height": r["height"],
                            "rtemplate": rt,
                            "refcorner": rc,
                            "codec": r["codec"],
                            "luma_mean": r["luma_mean"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "id", "width", "height", "rtemplate", "refcorner",
                    "codec", "luma_mean",
                ],
            )

    return ev.mapInPandas(
        # fused single Arrow stage (guide §4.1): payloads stay in
        # the Python worker between synthesis and extraction
        lambda it: extract(synth(it)),
        schema=(
            "id long, width int, height int, rtemplate int, "
            "refcorner string, codec string, luma_mean double"
        ),
    )
