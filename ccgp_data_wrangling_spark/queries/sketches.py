"""Deterministic-approximation queries: sketches (KMV / CMS /
histogram / set algebra), weighted sampling, z-order layout stats,
span-level dedup, leakage-safe splits, and BM25 retrieval.

Every estimator here is seeded-hash deterministic — no ``rand()``, no
bare libm transcendentals — so the DuckDB oracle replays the
identical arithmetic and the value hashes match bit-for-bit: the
approximation error is *modeled*, not fuzzed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ccgp_data_wrangling_spark.catalog import load_table
from ccgp_data_wrangling_spark.queries import register

# DuckDB rendering of operators.sketches._element_hash: first 15 hex
# digits of md5 as a 60-bit integer, +1.
_DUCK_HASH = "(CAST(('0x' || SUBSTR(md5({v}), 1, 15)) AS BIGINT) + 1)"

# ---------------------------------------------------------------------------
# KMV distinct-cardinality sketch: distinct users per event type
# ---------------------------------------------------------------------------

_KMV_SQL = f"""
WITH h AS (
  SELECT DISTINCT event_type AS g,
         {_DUCK_HASH.format(v="CAST(user_id AS VARCHAR)")} AS h
  FROM events
), ranked AS (
  SELECT g, h, ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS rn
  FROM h
), agg AS (
  SELECT g, COUNT(*) AS sketch_size,
         MAX(CASE WHEN rn = 64 THEN h END) AS h64
  FROM ranked WHERE rn <= 64 GROUP BY g
)
SELECT g AS event_type,
       CASE WHEN sketch_size < 64 THEN sketch_size
            ELSE CAST(FLOOR({float(63 * (1 << 60))!r} / h64) AS BIGINT)
            END AS distinct_est,
       CAST(sketch_size AS INT) AS sketch_size,
       CASE WHEN sketch_size < 64 THEN NULL ELSE h64 END AS kth_hash
FROM agg
"""


@register("kmv_distinct_users", _KMV_SQL)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k=64 minimum hash values) estimate of distinct users per
    event type — the mergeable 100 TB substitute for
    ``COUNT(DISTINCT user_id)`` (operators/sketches.kmv_distinct).
    """
    from ccgp_data_wrangling_spark.operators.sketches import kmv_distinct

    events = load_table(spark, sf_dir, "events")
    return kmv_distinct(events, "event_type", "user_id", k=64)


# ---------------------------------------------------------------------------
# Count-min sketch: heavy-hitter token frequency estimates
# ---------------------------------------------------------------------------

_CMS_SEEDS = "(VALUES (0, 1299709, 104729), (1, 15485863, 1299721), " \
             "(2, 32452843, 7919), (3, 49979687, 611953)) AS s(r, a, b)"

_CMS_SQL = f"""
WITH toks AS (
  SELECT UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS token
  FROM documents
), cnts AS (
  SELECT token, COUNT(*) AS exact_cnt FROM toks GROUP BY token
), hashed AS (
  SELECT token, exact_cnt,
         {_DUCK_HASH.format(v="token")} % 2147483647 AS hc
  FROM cnts
), cells AS (
  SELECT s.r, ((hc * s.a + s.b) % 2147483647) % 256 AS col,
         SUM(exact_cnt) AS cell
  FROM hashed CROSS JOIN {_CMS_SEEDS}
  GROUP BY 1, 2
), top AS (
  SELECT token, exact_cnt, hc FROM hashed
  ORDER BY exact_cnt DESC, token LIMIT 20
)
SELECT t.token, t.exact_cnt, CAST(MIN(c.cell) AS BIGINT) AS cms_est
FROM top t
CROSS JOIN {_CMS_SEEDS}
JOIN cells c
  ON c.r = s.r AND c.col = ((t.hc * s.a + s.b) % 2147483647) % 256
GROUP BY t.token, t.exact_cnt
"""


@register("cms_token_frequency", _CMS_SQL)
def cms_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 256) over corpus tokens,
    point-queried for the 20 exact heavy hitters. Demonstrates the
    one-sided overestimate: ``cms_est >= exact_cnt`` always
    (operators/sketches.cms_sketch / cms_estimate).
    """
    from ccgp_data_wrangling_spark.operators.corpus_stats import corpus_tokens
    from ccgp_data_wrangling_spark.operators.sketches import (
        cms_estimate,
        cms_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(corpus_tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    sketch = cms_sketch(counts, "token", "exact_cnt")
    top = counts.orderBy(F.desc("exact_cnt"), F.asc("token")).limit(20)
    est = cms_estimate(sketch, top.select("token"), "token")
    return top.join(F.broadcast(est), "token").select(
        "token", "exact_cnt", "cms_est"
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram quantiles per event type
# ---------------------------------------------------------------------------

_HIST_SQL = """
WITH bins AS (
  SELECT event_type AS g, FLOOR(value / 10.0) AS bin, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), cum AS (
  SELECT g, bin, cnt,
         SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS total
  FROM bins
)
SELECT g AS event_type,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.5 * total) THEN bin * 10.0 END), 4)
         AS approx_p50,
       ROUND(MIN(CASE WHEN cum >= CEIL(0.9 * total) THEN bin * 10.0 END), 4)
         AS approx_p90,
       CAST(MAX(total) AS BIGINT) AS n
FROM cum GROUP BY g
"""


@register("hist_quantile_by_type", _HIST_SQL)
def hist_quantile_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch p50/p90 of event value per type (bin width 10):
    the mergeable replacement for an exact global-sort percentile
    (operators/sketches.binned_quantiles). Error bound = bin width.
    """
    from ccgp_data_wrangling_spark.operators.sketches import binned_quantiles

    events = load_table(spark, sf_dir, "events")
    return binned_quantiles(
        events, "event_type", "value", width=10.0, quantiles=(0.5, 0.9)
    )


# ---------------------------------------------------------------------------
# Span-level (substring) cross-document duplication
# ---------------------------------------------------------------------------

_SPAN_SQL = """
WITH toks AS (
  SELECT doc_id, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS t
  FROM documents
), raw AS (
  SELECT doc_id,
         UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(t) - 7, 0)),
                i -> ARRAY_TO_STRING(t[i+1:i+8], ' '))) AS span
  FROM toks
), spans AS (
  SELECT DISTINCT doc_id, span FROM raw
), dup AS (
  SELECT span FROM spans GROUP BY span HAVING COUNT(*) >= 2
), perdoc AS (
  SELECT doc_id, COUNT(*) AS n_dup FROM spans
  JOIN dup USING (span) GROUP BY doc_id
), tot AS (
  SELECT doc_id, COUNT(*) AS n_windows FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(t.n_windows, 0) AS n_windows,
       COALESCE(p.n_dup, 0) AS n_dup_windows,
       CASE WHEN COALESCE(t.n_windows, 0) > 0
            THEN ROUND(COALESCE(p.n_dup, 0) / t.n_windows, 4)
            ELSE 0.0 END AS dup_ratio
FROM documents d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN perdoc p USING (doc_id)
"""


@register("span_dedup_crossdoc", _SPAN_SQL)
def span_dedup_crossdoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated 8-token spans across documents (Lee et al. 2022
    substring dedup, Spark-shaped): per-doc duplicated-window counts
    and ratio (operators/spandedup.span_duplication_stats).
    """
    from ccgp_data_wrangling_spark.operators.spandedup import (
        span_duplication_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return span_duplication_stats(docs, window=8)


# ---------------------------------------------------------------------------
# Priority sampling (Duffield-Lund-Thorup): weighted sample + unbiased
# subset-sum estimate
# ---------------------------------------------------------------------------

_PRIO_SQL = f"""
WITH base AS (
  SELECT source AS g, doc_id AS id, CAST(n_chars AS DOUBLE) AS wt,
         CAST(n_chars AS DOUBLE) * 1152921504606846976.0
           / {_DUCK_HASH.format(v="CAST(doc_id AS VARCHAR)")} AS priority
  FROM documents
), ranked AS (
  SELECT g, id, wt, priority,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY priority DESC, id) AS rn,
         LEAD(priority, 5) OVER (PARTITION BY g ORDER BY priority DESC, id)
           AS tau_raw
  FROM base
), tau AS (
  SELECT g, COALESCE(MAX(CASE WHEN rn = 1 THEN tau_raw END), 0.0) AS tau
  FROM ranked GROUP BY g
), est AS (
  SELECT r.g, ROUND(SUM(GREATEST(r.wt, t.tau)), 4) AS est_total_weight,
         COUNT(*) AS sample_size
  FROM ranked r JOIN tau t USING (g)
  WHERE r.rn <= 5
  GROUP BY r.g
)
SELECT e.g AS source, e.est_total_weight, e.sample_size,
       x.exact_total
FROM est e
JOIN (
  SELECT source AS g, CAST(SUM(n_chars) AS BIGINT) AS exact_total
  FROM documents GROUP BY source
) x USING (g)
"""


@register("priority_sample_weights", _PRIO_SQL)
def priority_sample_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (k=5 per source) of documents weighted by
    n_chars, with the unbiased sum(max(w, tau)) subset-sum estimate
    next to the exact total (operators/sampling.priority_sample).
    Deterministic: u derives from md5(doc_id), no rand()."""
    from ccgp_data_wrangling_spark.operators.sampling import (
        priority_sample,
        priority_sum_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    sample = priority_sample(docs, "source", "doc_id", "n_chars", k=5)
    est = priority_sum_estimate(sample, "source", "n_chars")
    exact = docs.groupBy("source").agg(
        F.sum("n_chars").alias("exact_total")
    )
    return est.join(exact, "source").select(
        "source", "est_total_weight", "sample_size", "exact_total"
    )


# ---------------------------------------------------------------------------
# Token-budget corpus selection: fill each domain best-first
# ---------------------------------------------------------------------------

_BUDGET_SQL = """
WITH toks AS (
  SELECT source, doc_id,
         LEN(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS n_tokens,
         n_chars
  FROM documents
), ranked AS (
  SELECT source, doc_id, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS cum_tokens
  FROM toks
)
SELECT source, doc_id, CAST(n_tokens AS INT) AS n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM ranked
WHERE cum_tokens - n_tokens < 600
"""


@register("token_budget_select", _BUDGET_SQL)
def token_budget_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source best-first selection until a 600-token budget
    (operators/sampling.token_budget_select): docs ordered by n_chars
    (quality proxy) descending; the doc that crosses the budget is
    admitted, so every source reaches >= budget when it can."""
    from ccgp_data_wrangling_spark.operators.sampling import (
        token_budget_select,
    )
    from ccgp_data_wrangling_spark.operators.corpus_stats import corpus_tokens

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(corpus_tokens("text")).alias("n_tokens"),
        "n_chars",
    )
    return token_budget_select(
        docs, budget_tokens=600, quality_col="n_chars"
    )


# ---------------------------------------------------------------------------
# Z-order clustering: per-bucket rectangles of the (user, value) space
# ---------------------------------------------------------------------------

def _duck_quant(expr: str, lo: float, hi: float, bits: int) -> str:
    cells = (1 << bits) - 1
    return (
        f"CAST(LEAST(GREATEST(FLOOR((CAST({expr} AS DOUBLE) - {lo!r})"
        f" * {float(cells)!r} / {float(hi - lo)!r}), 0), {cells}) AS BIGINT)"
    )


def _duck_morton2(x: str, y: str, bits: int) -> str:
    parts = []
    for i in range(bits):
        parts.append(f"((({x} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(parts)


_Z_SQL = f"""
WITH q AS (
  SELECT {_duck_quant("user_id", 0.0, 2000.0, 8)} AS qx,
         {_duck_quant("value", 0.0, 500.0, 8)} AS qy,
         user_id, value
  FROM events
), z AS (
  SELECT ({_duck_morton2("qx", "qy", 8)}) >> 10 AS z_bucket,
         user_id, value
  FROM q
)
SELECT z_bucket, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(user_id) AS min_user, MAX(user_id) AS max_user,
       ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value
FROM z GROUP BY z_bucket
"""


@register("zorder_cluster_stats", _Z_SQL)
def zorder_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-interleave (user_id, value) into 8+8 bits, bucket by the
    top 6 z-bits, and report each bucket's (user, value) bounding box
    (operators/zorder.quantize/morton2): tight per-bucket rectangles
    are exactly what makes min/max row-group pruning work for 2-D box
    predicates on a z-ordered layout.
    """
    from ccgp_data_wrangling_spark.operators.zorder import morton2, quantize

    events = load_table(spark, sf_dir, "events")
    qx = quantize(F.col("user_id"), 0.0, 2000.0, 8)
    qy = quantize(F.col("value"), 0.0, 500.0, 8)
    z = events.select(
        F.shiftright(morton2(qx, qy, 8), 10).alias("z_bucket"),
        "user_id",
        "value",
    )
    return z.groupBy("z_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# KMV set algebra: estimated overlap between two corpus shards
# ---------------------------------------------------------------------------

_KMV_NUM_256 = repr(float(255 * (1 << 60)))

_OVERLAP_SQL = f"""
WITH t AS (
  SELECT source, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS ts
  FROM documents WHERE source IN ('src0', 'src1')
), g AS (
  SELECT source,
         UNNEST(LIST_TRANSFORM(RANGE(GREATEST(LEN(ts) - 2, 0)),
                i -> ARRAY_TO_STRING(ts[i+1:i+3], ' '))) AS gram
  FROM t
), h AS (
  SELECT DISTINCT source, {_DUCK_HASH.format(v="gram")} AS h FROM g
), a AS (
  SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) rn
                 FROM h WHERE source = 'src0') WHERE rn <= 256
), b AS (
  SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) rn
                 FROM h WHERE source = 'src1') WHERE rn <= 256
), u AS (
  SELECT h FROM (SELECT h, ROW_NUMBER() OVER (ORDER BY h) rn FROM
                 (SELECT DISTINCT h FROM
                   (SELECT h FROM a UNION ALL SELECT h FROM b)))
  WHERE rn <= 256
), s AS (
  SELECT (SELECT COUNT(*) FROM a) AS na, (SELECT MAX(h) FROM a) AS ha,
         (SELECT COUNT(*) FROM b) AS nb, (SELECT MAX(h) FROM b) AS hb,
         (SELECT COUNT(*) FROM u) AS nu, (SELECT MAX(h) FROM u) AS hu,
         (SELECT COUNT(*) FROM u
          JOIN a USING (h) JOIN b USING (h)) AS shared
)
SELECT
  CASE WHEN na < 256 THEN na
       ELSE CAST(FLOOR({_KMV_NUM_256} / ha) AS BIGINT) END AS est_a,
  CASE WHEN nb < 256 THEN nb
       ELSE CAST(FLOOR({_KMV_NUM_256} / hb) AS BIGINT) END AS est_b,
  CASE WHEN nu < 256 THEN nu
       ELSE CAST(FLOOR({_KMV_NUM_256} / hu) AS BIGINT) END AS est_union,
  ROUND(CAST(shared AS DOUBLE) / nu, 4) AS jaccard_est,
  CAST(FLOOR((CAST(shared AS DOUBLE) / nu) *
       (CASE WHEN nu < 256 THEN nu
             ELSE CAST(FLOOR({_KMV_NUM_256} / hu) AS BIGINT) END))
       AS BIGINT) AS est_intersection
FROM s
"""


@register("kmv_shard_overlap", _OVERLAP_SQL)
def kmv_shard_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated trigram-vocabulary overlap between two corpus shards
    from two k=256 KMV sketches (operators/sketches.kmv_set_overlap;
    Beyer et al. SIGMOD 2007): |A|, |B|, |A∪B|, Jaccard, |A∩B| — the
    "how much does shard X overlap shard Y" dedup-planning question
    answered from kilobyte sketches, no join over the data.
    """
    from ccgp_data_wrangling_spark.operators.corpus_stats import text_grams
    from ccgp_data_wrangling_spark.operators.sketches import (
        kmv_partial,
        kmv_set_overlap,
    )

    docs = load_table(spark, sf_dir, "documents")

    def shard(src: str) -> DataFrame:
        grams = docs.where(F.col("source") == src).select(
            F.lit(src).alias("g"),
            F.explode(text_grams("text", 3)).alias("gram"),
        )
        return kmv_partial(grams, "g", "gram", k=256)

    return kmv_set_overlap(shard("src0"), shard("src1"), k=256)


# ---------------------------------------------------------------------------
# Leakage-safe splits: near-dup clusters never straddle train/val/test
# ---------------------------------------------------------------------------

_SPLIT_BASE = 90_000

_SPLIT_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_SPLIT_BASE}, text FROM documents WHERE doc_id < 50
), canon AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY text) AS cluster_id
  FROM corpus
)
SELECT doc_id, cluster_id,
       CASE WHEN u < 0.1 THEN 'test'
            WHEN u < 0.2 THEN 'val'
            ELSE 'train' END AS split
FROM (
  SELECT doc_id, cluster_id,
         CAST({_DUCK_HASH.format(v="'split-v1:' || CAST(cluster_id AS VARCHAR)")}
              AS DOUBLE) / 1152921504606846976.0 AS u
  FROM canon
)
"""


@register("leakage_safe_splits", _SPLIT_SQL)
def leakage_safe_splits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware train/val/test assignment
    (operators/splits.leakage_safe_splits): planted exact-duplicate
    copies must land in their original's split. The Spark side runs
    the REAL star-contraction connected components over the duplicate
    pairs; the oracle exploits that components of an equality relation
    are just the per-text minimum id — a closed-form cross-check of
    the iterative algorithm.
    """
    from ccgp_data_wrangling_spark.operators.splits import (
        leakage_safe_splits,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + _SPLIT_BASE).alias("doc_id"), "text"
        )
    )
    pairs = (
        corpus.alias("a")
        .join(corpus.alias("b"), F.col("a.text") == F.col("b.text"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    return leakage_safe_splits(corpus, pairs, "doc_id")


# ---------------------------------------------------------------------------
# BM25 retrieval: top-10 documents for a literal term query
# ---------------------------------------------------------------------------

_BM25_TERMS = ("join", "hash", "filter")

_BM25_SQL = f"""
WITH toks AS (
  SELECT doc_id AS id,
         UNNEST(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+')) AS t
  FROM documents
), tf AS (
  SELECT id, t, COUNT(*) AS tf FROM toks GROUP BY id, t
), dl AS (
  SELECT id, COUNT(*) AS dl FROM toks GROUP BY id
), consts AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n,
         (SELECT AVG(dl) FROM dl) AS avgdl
), qtf AS (
  SELECT * FROM tf WHERE t IN {_BM25_TERMS!r}
), idf AS (
  SELECT t, ROUND(LN((c.n - df + 0.5) / (df + 0.5) + 1.0), 6) AS idf
  FROM (SELECT t, COUNT(*) AS df FROM qtf GROUP BY t), consts c
), contrib AS (
  SELECT q.id, q.t,
         i.idf * q.tf / (q.tf + 1.2 * (1.0 - 0.75 + 0.75 * d.dl / c.avgdl))
           AS contrib
  FROM qtf q JOIN idf i USING (t) JOIN dl d USING (id), consts c
), scored AS (
  SELECT id AS doc_id,
         ROUND(LIST_REDUCE(
           LIST_PREPEND(0.0, LIST(contrib ORDER BY t)),
           (acc, x) -> acc + x), 4) AS bm25
  FROM contrib GROUP BY id
)
SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 10
"""


@register("bm25_topk_retrieval", _BM25_SQL)
def bm25_topk_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for the literal query ('join','hash',
    'filter') — operators/bm25.bm25_topk. idf rounded to 6 dp before
    use (libm-proof), per-doc contributions folded in term order
    (float addition isn't associative), score rounded to 4 dp with
    id tie-breaks: bit-identical across engines.
    """
    from ccgp_data_wrangling_spark.operators.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, list(_BM25_TERMS), k=10)


# ---------------------------------------------------------------------------
# Bloom-prefiltered join reduction: revenue of lineitems belonging to
# urgent Q1-1996 orders. The Spark plan probes lineitem through a
# 16 KiB Bloom digest of the qualifying orderkeys BEFORE the shuffle
# join — the oracle runs the plain join, proving the prefilter never
# drops a matching row (no false negatives by construction).
# ---------------------------------------------------------------------------

_BLOOM_SQL = """
SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS TIMESTAMP) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
GROUP BY 1
"""


@register("bloom_prefilter_revenue", _BLOOM_SQL)
def bloom_prefilter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/bloomjoin.bloom_prefilter_join over orders⋈lineitem.

    The build side (urgent orders in one quarter) is ~5% of orders, so
    the Bloom predicate drops ~95% of lineitem rows at the scan stage
    and the shuffle carries only candidate rows. Result is identical
    to the plain join — the digest has no false negatives, and any
    false positive fails the real equi-join afterwards.
    """
    from ccgp_data_wrangling_spark.operators.bloomjoin import bloom_prefilter_join

    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1996-01-01 00:00:00")
            & (F.col("o_orderdate") < "1996-04-01 00:00:00")
        )
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = bloom_prefilter_join(li, orders, "l_orderkey", "o_orderkey")
    return joined.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al., NeurIPS 2023): select the 50
# raw documents whose hashed uni+bigram distribution best matches the
# src18 target slice, via Gumbel-top-k over the log-likelihood-ratio
# scores. Buckets and Gumbel noise are md5-deterministic; every LN rounded to 6 dp
# before use.
# ---------------------------------------------------------------------------

_DSIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+') AS t
  FROM documents
),
feats AS (
  SELECT doc_id, source, UNNEST(t) AS gram FROM toks
  UNION ALL
  SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS gram
  FROM toks, UNNEST(RANGE(1, GREATEST(LEN(t), 1))) AS u(i)
),
bucketed AS (
  SELECT doc_id, source,
         {_DUCK_HASH.format(v="gram")} % 256 AS bucket
  FROM feats
),
doc_m AS (
  SELECT doc_id, bucket, COUNT(*) AS m FROM bucketed GROUP BY 1, 2
),
raw_c AS (SELECT bucket, COUNT(*) AS cr FROM bucketed GROUP BY 1),
tgt_c AS (SELECT bucket, COUNT(*) AS ct FROM bucketed
          WHERE source = 'src18' GROUP BY 1),
tot AS (
  SELECT (SELECT SUM(cr) FROM raw_c) AS t_raw,
         (SELECT COALESCE(SUM(ct), 0) FROM tgt_c) AS t_tgt
),
dim AS (
  SELECT COALESCE(r.bucket, g.bucket) AS bucket,
         ROUND(LN((COALESCE(g.ct, 0) + 0.5) / (t.t_tgt + 128.0)), 6)
       - ROUND(LN((COALESCE(r.cr, 0) + 0.5) / (t.t_raw + 128.0)), 6) AS lr
  FROM raw_c r FULL OUTER JOIN tgt_c g USING (bucket), tot t
),
llr AS (
  SELECT d.doc_id, ROUND(SUM(d.m * dim.lr), 4) AS llr
  FROM doc_m d JOIN dim USING (bucket) GROUP BY 1
),
scored AS (
  SELECT doc_id, llr,
         ROUND(llr + ROUND(-LN(-LN(
           ({_DUCK_HASH.format(v="'dsir-v1:' || CAST(doc_id AS VARCHAR)")})
             / 1152921504606846976.0)), 6), 4) AS score
  FROM llr
)
SELECT doc_id, llr, score
FROM scored ORDER BY score DESC, doc_id LIMIT 50
"""


@register("dsir_target_select", _DSIR_SQL)
def dsir_target_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dsir.dsir_select: raw = all documents, target = the
    src18 slice. Fixed 256-bucket feature space → both distribution
    estimates are ≤256-row broadcast dims no matter the corpus size;
    selection is a TakeOrderedAndProject top-50.
    """
    from ccgp_data_wrangling_spark.operators.dsir import dsir_select

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dsir_select(docs, docs.where(F.col("source") == "src18"), k=50)


# ---------------------------------------------------------------------------
# HyperLogLog distinct users per event type. The oracle replays the
# exact register arithmetic: 60-bit md5 hash, low-8-bit register
# index, leading-zero rank via bin() string length (identical minimal
# binary semantics in both engines), 2^40-scaled exact integer
# register sum, 6-dp-rounded ln in the linear-counting branch.
# ---------------------------------------------------------------------------

_HLL_SQL = f"""
WITH h AS (
  SELECT event_type AS g,
         ({_DUCK_HASH.format(v="CAST(user_id AS VARCHAR)")} - 1) AS hv
  FROM events
), regs AS (
  SELECT g, CAST(hv & 255 AS INT) AS register, hv >> 8 AS rest FROM h
), rho_t AS (
  SELECT g, register,
         MAX(LEAST(52 - (CASE WHEN rest = 0 THEN 0
                          ELSE LENGTH(bin(rest)) END) + 1, 40)) AS rho
  FROM regs GROUP BY 1, 2
), agg AS (
  SELECT g, COUNT(*) AS n_present,
         SUM(1::BIGINT << CAST(40 - rho AS INT)) AS z_present_s
  FROM rho_t GROUP BY 1
), est AS (
  SELECT g, 256 - n_present AS zeros,
         0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * POWER(2.0, 40)
           / (z_present_s + ((256 - n_present)::BIGINT << 40)) AS raw
  FROM agg
)
SELECT g AS event_type,
       ROUND(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
                  THEN 256 * ROUND(LN(256.0 / zeros), 6)
                  ELSE raw END, 2) AS est_distinct
FROM est
"""


@register("hll_distinct_users", _HLL_SQL)
def hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type via HyperLogLog.

    Companion to kmv_distinct_users: HLL keeps ≤256 register rows per
    group (vs KMV's k=64 hash values) and merges across shards with a
    plain MAX — the canonical production sketch for 100 TB distinct
    counts. Estimator arithmetic is exact-integer + 6-dp-rounded ln,
    so the result is layout-independent (operators/sketches.py
    hll_readout docstring).
    """
    from ccgp_data_wrangling_spark.operators.sketches import hll_distinct

    events = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return hll_distinct(events, "event_type", "user_id")


# ---------------------------------------------------------------------------
# Heavy hitters: users with ≥0.75% of all events, found via a
# deterministic md5 row-sample prefilter then exact verify. The
# oracle replays the identical two-phase logic — including the
# prefilter — so parity holds even if the sample were ever to miss.
# ---------------------------------------------------------------------------

_HH_SQL = f"""
WITH total AS (SELECT COUNT(*) AS n FROM events),
sampled AS (
  SELECT user_id AS v, COUNT(*) AS c_sample
  FROM events
  WHERE {_DUCK_HASH.format(v="COALESCE(CAST(event_id AS VARCHAR), '<NULL>')")} % 4 = 0
  GROUP BY 1
),
cands AS (
  SELECT v FROM sampled, total
  WHERE c_sample >= CAST(FLOOR(0.5 * GREATEST(1, CAST(FLOOR(0.0075 * n) AS BIGINT)) / 4) AS BIGINT)
)
SELECT e.user_id AS value, CAST(COUNT(*) AS BIGINT) AS cnt
FROM events e JOIN cands c ON c.v IS NOT DISTINCT FROM e.user_id, total
GROUP BY 1, total.n
HAVING COUNT(*) >= GREATEST(1, CAST(FLOOR(0.0075 * total.n) AS BIGINT))
"""


@register("heavy_hitters_users", _HH_SQL)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users owning ≥0.75% of the event stream, exact counts.

    Misra-Gries-class problem under this engine's determinism policy:
    per-partition reservoir state is arrival-order-dependent, so the
    scale path is a deterministic hash row-sample prefilter (shuffles
    N/4 partial counts, not the full long tail) + exact verify over
    candidates only (operators/sketches.heavy_hitters).
    """
    from ccgp_data_wrangling_spark.operators.sketches import heavy_hitters

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    return heavy_hitters(
        events, "user_id", "event_id", threshold_frac=0.0075, sample_mod=4
    )


# ---------------------------------------------------------------------------
# Negative sampling for contrastive training: per anchor embedding,
# 4 deterministic out-of-class negatives. The candidate pool here is
# the label-stratified head of each class (hash-ranked ≤ 8 per
# class) — the bounded-pool contract the operator documents.
# ---------------------------------------------------------------------------

_NEG_SQL = f"""
WITH pool AS (
  SELECT vec_id, label FROM (
    SELECT vec_id, label,
           ROW_NUMBER() OVER (PARTITION BY label
             ORDER BY {_DUCK_HASH.format(v="'pool:' || CAST(vec_id AS VARCHAR)")}, vec_id) AS rn
    FROM embeddings) WHERE rn <= 8
),
anchors AS (SELECT vec_id, label FROM embeddings WHERE vec_id % 10 = 0),
scored AS (
  SELECT a.vec_id AS anchor, p.vec_id AS negative,
         {_DUCK_HASH.format(v="'17:' || CAST(a.vec_id AS VARCHAR) || ':' || CAST(p.vec_id AS VARCHAR)")} AS h
  FROM anchors a JOIN pool p ON a.label != p.label
)
SELECT anchor, negative, CAST(rk AS INT) AS neg_rank
FROM (
  SELECT anchor, negative,
         ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY h, negative) AS rk
  FROM scored)
WHERE rk <= 4
"""


@register("negative_samples_contrastive", _NEG_SQL)
def negative_samples_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4 deterministic out-of-class negatives per anchor embedding
    (operators/sampling.negative_samples over a hash-ranked per-class
    pool).

    Layout-independent (md5-ranked, no rand()), re-derivable per
    anchor, and the anchor×pool join is bounded by the pool contract
    — never anchors × corpus.
    """
    from pyspark.sql import Window

    from ccgp_data_wrangling_spark.operators.sampling import (
        negative_samples,
    )
    from ccgp_data_wrangling_spark.operators.sketches import _element_hash

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    wp = Window.partitionBy("label").orderBy(
        _element_hash(
            F.concat(F.lit("pool:"), F.col("vec_id").cast("string"))
        ),
        "vec_id",
    )
    pool = (
        emb.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= 8)
        .select("vec_id", "label")
    )
    anchors = emb.where(F.col("vec_id") % 10 == 0)
    return negative_samples(
        anchors, "vec_id", "label", k=4, seed=17, pool=pool
    )


# ---------------------------------------------------------------------------
# Value-keyed histogram digest: exact p50/p90/p99 of the 2-dp-rounded
# event value per type, via the range-free mergeable digest. The
# oracle replays the digest (counts per rounded value) and the
# cumulative readout.
# ---------------------------------------------------------------------------

_VHIST_SQL = """
WITH digest AS (
  SELECT event_type AS g,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS v_s,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT g, v_s,
         SUM(cnt) OVER (PARTITION BY g ORDER BY v_s) AS cum,
         SUM(cnt) OVER (PARTITION BY g) AS total
  FROM digest
)
SELECT g AS event_type,
       CAST(MAX(total) AS BIGINT) AS n,
       MIN(CASE WHEN cum >= CEIL(0.5 * total) THEN v_s END) / 100.0 AS p50,
       MIN(CASE WHEN cum >= CEIL(0.9 * total) THEN v_s END) / 100.0 AS p90,
       MIN(CASE WHEN cum >= CEIL(0.99 * total) THEN v_s END) / 100.0 AS p99
FROM cum GROUP BY 1
"""


@register("vhist_quantiles_by_type", _VHIST_SQL)
def vhist_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-free mergeable quantiles: exact p50/p90/p99 of the
    rounded value distribution (operators/sketches.vhist_*). The
    digest merges across shards by count addition and needs no
    a-priori bin range — the complement of hist_quantile_by_type's
    fixed-width bins.
    """
    from ccgp_data_wrangling_spark.operators.sketches import (
        vhist_partial,
        vhist_quantiles,
    )

    events = load_table(spark, sf_dir, "events")
    digest = vhist_partial(events, "event_type", "value", scale=100)
    return vhist_quantiles(digest, "event_type", (0.5, 0.9, 0.99), scale=100)


# ---------------------------------------------------------------------------
# Time-bucketed HLL partials + rolling merge: daily register tables,
# then a 7-day rolling DISTINCT user estimate per day — the pattern
# that makes range distinct-counts possible at all (distinct doesn't
# sum; registers MAX-merge). The oracle replays registers per day
# and the window-max merge.
# ---------------------------------------------------------------------------

_HLL_ROLLING_SQL = f"""
WITH h AS (
  SELECT CAST(ts AS DATE) AS d,
         ({_DUCK_HASH.format(v="CAST(user_id AS VARCHAR)")} - 1) AS hv
  FROM events
),
regs AS (
  SELECT d, CAST(hv & 255 AS INT) AS register,
         MAX(LEAST(52 - (CASE WHEN hv >> 8 = 0 THEN 0
                          ELSE LENGTH(bin(hv >> 8)) END) + 1, 40)) AS rho
  FROM h GROUP BY 1, 2
),
days AS (SELECT DISTINCT d FROM regs),
win AS (
  SELECT dy.d, r.register, MAX(r.rho) AS rho
  FROM days dy
  JOIN regs r ON r.d BETWEEN dy.d - INTERVAL 6 DAY AND dy.d
  GROUP BY 1, 2
),
agg AS (
  SELECT d, COUNT(*) AS n_present,
         SUM(1::BIGINT << CAST(40 - rho AS INT)) AS z_s
  FROM win GROUP BY 1
),
est AS (
  SELECT d, 256 - n_present AS zeros,
         0.7213 / (1.0 + 1.079 / 256) * 256 * 256 * POWER(2.0, 40)
           / (z_s + ((256 - n_present)::BIGINT << 40)) AS raw
  FROM agg
)
SELECT d AS day,
       ROUND(CASE WHEN raw <= 2.5 * 256 AND zeros > 0
                  THEN 256 * ROUND(LN(256.0 / zeros), 6)
                  ELSE raw END, 2) AS est_7d_users
FROM est
"""


@register("hll_rolling_7d_users", _HLL_ROLLING_SQL)
def hll_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from DAILY HLL partials.

    Daily register tables are the stored artifact (≤256 rows/day);
    any range readout is a MAX-merge of the covered days — no
    re-scan of events, and the same partials serve 7-day, 30-day, or
    month-to-date windows. This is the production shape for "unique
    users over [range]" dashboards at 100 TB: the raw data is
    touched once, ever (operators/sketches.hll_partial/hll_merge/
    hll_readout).
    """
    from ccgp_data_wrangling_spark.operators.sketches import (
        hll_partial,
        hll_readout,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "user_id"
    )
    daily = hll_partial(ev, "d", "user_id").withColumnRenamed("g", "d")
    # each daily register contributes to the 7 window-ending days it
    # covers: explode + groupBy — no range join, pure equi-shape
    # (register rows × 7 is the entire fan-out; a days×daily interval
    # join would be a nested loop the audit rightly flags)
    days = daily.select("d").dropDuplicates().withColumnRenamed("d", "day")
    contrib = daily.withColumn(
        "day", F.explode(F.sequence(F.col("d"), F.date_add(F.col("d"), 6)))
    )
    windowed = (
        contrib.join(F.broadcast(days), "day")  # clip to observed days
        .groupBy("day", "register")
        .agg(F.max("rho").alias("rho"))
    )
    return hll_readout(
        windowed.withColumnRenamed("day", "g"), "day"
    ).withColumnRenamed("est_distinct", "est_7d_users")
