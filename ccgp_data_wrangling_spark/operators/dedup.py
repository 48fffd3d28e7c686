"""Deduplication operator family for training-data pipelines
(BASELINE.json north star; beyond the reference's own surface).

All stages are native Column expressions / DataFrame joins — no
Python in any hot path, no driver materialization:

* exact dedup         — content-hash groupBy (queries/llm_ops.py)
* MinHash + LSH       — shingle → signature (HOF min over seeded
                        affine permutations) → band → bucket join →
                        exact-Jaccard verify
* SimHash             — 64-bit sign-aggregated token hashes, banded
                        bucket join + Hamming verify (bit_count/xor)

Scale notes: the only shuffles are (a) the band-bucket groupBy-join,
whose keys are uniform hashes (no skew), and (b) the verify join,
which touches candidate pairs only — never the O(n²) pair space.
Signatures are fixed-width arrays (n_hashes·8 bytes), so the widest
shuffled row is bounded. Runaway buckets (pathological duplicate
explosion) should be capped with a per-bucket count guard at 100 TB;
see ``max_bucket`` parameter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.caching import CacheScope, active_scope
from ccgp_data_wrangling_spark.operators.corpus_stats import text_grams

_MERSENNE31 = (1 << 31) - 1


def _affine_params(n_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a·x + b) mod 2^31-1.

    A simple seeded LCG keeps this dependency-free and reproducible.
    The modulus must be SMALL relative to a·x so the product wraps the
    modulus many times — with a 2^61-1 modulus and 32-bit inputs the
    map is piecewise-monotone (≈4 linear segments), which destroys the
    min-hash uniformity property entirely (observed: 5/64 signature
    agreement on sets with Jaccard 0.98). With p = 2^31-1 and
    a, x < 2^31 the product is < 2^62 (no int64 overflow under ANSI
    mode) yet wraps p ~2^31 times, giving a proper universal family.
    """
    state = seed & 0x7FFFFFFF or 1
    out = []
    for _ in range(n_hashes):
        state = (1103515245 * state + 12345) % (1 << 31)
        a = state % (_MERSENNE31 - 1) + 1
        state = (1103515245 * state + 12345) % (1 << 31)
        b = state % _MERSENNE31
        out.append((a, b))
    return out


def word_shingles(text: Column, k: int = 5) -> Column:
    """Distinct k-word shingles of ``text`` (corpus_stats.text_grams
    with ``partial=True``: a document shorter than k tokens yields its
    one partial shingle).

    Tokenization is ``trim`` + split-on-``\\s+``, the oracle SQL's
    REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'). ``trim`` strips only
    spaces, so other edge whitespace still yields an empty token:
    ``'\\ta  b\\n'`` tokenizes to ``['', 'a', 'b', '']``.
    """
    return F.array_distinct(text_grams(text, k, partial=True))


def shingle_hashes(text: Column, k: int = 5) -> Column:
    """Distinct 64-bit hashes of the k-word shingles (as long).

    One xxhash64 per :func:`word_shingles` string (tokens cannot
    contain spaces, so the joined string is injective in the token
    tuple). 64-bit output keeps within-document collisions — which
    would silently shift a document's Jaccard — at the ~1e-15 level.
    """
    return F.array_distinct(
        F.transform(text_grams(text, k, partial=True), lambda s: F.xxhash64(s))
    )


def minhash_signature(
    hashes: Column, n_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature: per permutation, min over shingle hashes."""
    params = _affine_params(n_hashes, seed)
    perms = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in params
        ]
    )
    return F.transform(
        perms,
        lambda p: F.array_min(
            F.transform(
                hashes,
                lambda x: F.pmod(
                    p["a"] * F.pmod(x, F.lit(_MERSENNE31)) + p["b"],
                    F.lit(_MERSENNE31),
                ),
            )
        ),
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    seed: int = 42,
    max_bucket: int = 1000,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact_jaccard ≥ threshold).

    Pipeline: signature → band buckets → within-bucket self-join for
    candidates → exact Jaccard verify on shingle-hash sets. The verify
    step makes output exact w.r.t. the shingle representation (LSH
    only controls recall), so results are deterministic and
    order-independent.
    """
    # persist the signature table: HOF lambdas are interpreted (not
    # codegen'd), and without a materialization boundary Catalyst's
    # projection collapse would INLINE the signature expression into
    # all `bands` band-hash expressions and into every join branch —
    # observed 10-100× blowup. At 100 TB the signature table is
    # likewise materialized once (it's 1000× smaller than the corpus).
    if scope is None:
        scope = active_scope("minhash_neardup_pairs")
    base = scope.persist(
        minhash_index(
            df, id_col, text_col, n_hashes=n_hashes, shingle_k=shingle_k, seed=seed
        )
    )
    # guard: drop pathological buckets (skew control at scale)
    banded = _cap_buckets(_band_table(base, n_hashes, bands), max_bucket)

    left = banded.select("band_idx", "band_hash", F.col("id").alias("id_a"))
    right = banded.select("band_idx", "band_hash", F.col("id").alias("id_b"))
    cands = (
        left.join(right, ["band_idx", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _jaccard_verify(cands, base, threshold)


def _jaccard_verify(cands: DataFrame, sigs: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, jaccard)`` for the candidate pairs whose exact
    shingle-set Jaccard is ≥ ``threshold`` (reported to 4 dp).
    Banding carries IDS ONLY: the ``sh`` arrays of ``sigs`` (a
    :func:`minhash_index` frame) are attached after candidate dedup,
    so wide rows never ride the bucket/dedup shuffles."""
    sh_a = sigs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = sigs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        cands.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


def _cap_buckets(banded: DataFrame, max_n: int | None) -> DataFrame:
    """Drop the rows of an ``(id, <bucket key>...)`` band table whose
    bucket holds more than ``max_n`` ids (None keeps every bucket):
    the hot-bucket cap every banded dedup carries, which trades
    recall, never correctness."""
    if max_n is None:
        return banded
    keys = [c for c in banded.columns if c != "id"]
    sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    return banded.join(sizes.where(F.col("__n") <= max_n).drop("__n"), keys)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard
# ---------------------------------------------------------------------------


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct n-word grams (same trim+\\s+ tokenization as shingles)."""
    return word_shingles(text, n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
    scope: CacheScope | None = None,
) -> DataFrame:
    """EXACT word-n-gram Jaccard near-dup pairs (no approximation).

    Candidate generation is an inverted-index equi-join: explode each
    doc's distinct n-grams, join on the gram, count shared grams per
    pair, then Jaccard = shared / (|A| + |B| - shared) from full set
    sizes — no second pass over the sets is needed, so the verify is
    free compared to MinHash's array_intersect.

    ``max_df`` drops grams appearing in more than that many docs from
    the INDEX ONLY (classic prefix-filter skew guard: a gram shared by
    d docs contributes d² join rows). Set sizes and the shared-count
    still use all grams below the cap; a pair is only missed if every
    single shared gram is ultra-common, which at ``threshold`` ≥ 0.5
    implies near-spam docs. Oracles must mirror the cap exactly;
    ``max_df=None`` disables the cap for oracle-exact semantics.

    Scale: the shuffles are the gram equi-join (key = 64-bit gram
    hash, uniform) and the per-pair count groupBy. Never materializes
    the O(n²) pair space — only pairs sharing an indexed gram.
    """
    # persist: the gram array feeds three branches (doc-freq, index
    # self-join sides, sizes) — materialize once instead of recomputing
    # the interpreted shingle HOFs per branch
    if scope is None:
        scope = active_scope("ngram_jaccard_pairs")
    base = scope.persist(
        df.select(
            F.col(id_col).alias("id"),
            shingle_hashes(F.col(text_col), n).alias("grams"),
        )
    )
    sizes = base.select("id", F.size("grams").alias("n_grams"))
    ex = base.select("id", F.explode("grams").alias("g"))

    if max_df is None:
        indexed = ex
    else:
        doc_freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
        indexed = ex.join(
            doc_freq.where(F.col("df") <= max_df).select("g"), "g"
        )

    shared = (
        indexed.alias("a")
        .join(indexed.alias("b"), "g")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "n_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64(text: Column) -> Column:
    """64-bit SimHash over whitespace tokens.

    For each bit j: sum over tokens of ±1 by bit j of the token's
    xxhash64; bit set iff the sum is positive.

    ONE pass over the tokens with a 64-element margin accumulator
    (``zip_with`` add), then one fold packs the margins into the
    64-bit result — HOF lambdas are interpreted, so traversal count
    dominates; the per-bit formulation would scan the token array 64
    times and is an order of magnitude slower.
    """
    token_hashes = F.transform(
        F.split(F.trim(text), r"\s+"), lambda t: F.xxhash64(t)
    )
    zeros = F.array_repeat(F.lit(0), 64)

    def token_bits(h: Column) -> Column:
        # unrolled: shiftright requires a literal int bit count
        return F.array(
            *[
                F.when(
                    F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
                for j in range(64)
            ]
        )

    margins = F.aggregate(
        token_hashes,
        zeros,
        lambda acc, h: F.zip_with(acc, token_bits(h), lambda a, b: a + b),
    )
    powers = F.array(
        *[F.shiftleft(F.lit(1).cast("long"), j) for j in range(64)]
    )
    return F.aggregate(
        F.zip_with(
            margins,
            powers,
            lambda m, p: F.when(m > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_hamming: int = 3,
    bands: int = 4,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64 bits into ``bands``
    chunks (pigeonhole: hamming ≤ bands-1 guarantees an equal chunk),
    bucket-join, verify with bit_count(xor) ≤ max_hamming.
    """
    width = 64 // bands
    mask = (1 << width) - 1
    # persist: prevents projection collapse from inlining the simhash
    # expression into every chunk extraction / join branch
    if scope is None:
        scope = active_scope("simhash_neardup_pairs")
    base = scope.persist(
        df.select(
            F.col(id_col).alias("id"), simhash64(F.col(text_col)).alias("sim")
        )
    )
    chunks = F.array(
        *[
            F.shiftrightunsigned(F.col("sim"), b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    banded = base.select(
        "id",
        "sim",
        F.posexplode(chunks).alias("band_idx", "chunk"),
    )
    left = banded.select(
        "band_idx", "chunk", F.col("id").alias("id_a"), F.col("sim").alias("sim_a")
    )
    right = banded.select(
        "band_idx", "chunk", F.col("id").alias("id_b"), F.col("sim").alias("sim_b")
    )
    return (
        left.join(right, ["band_idx", "chunk"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.99,
    n_tables: int | None = None,
    n_bits: int | None = None,
    seed: int = 42,
    dim: int | None = None,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ ``threshold``.

    Candidates come from SRP-LSH self-buckets (a pair is a candidate
    if ANY of the ``n_tables`` signed-random-projection tables puts
    both vectors in the same ``n_bits``-bit bucket); exact cosine
    verifies.

    ``n_tables``/``n_bits`` default to **corpus-adaptive** sizing
    (:func:`knn.srp_adaptive_params`): bits grow with log2(n) so
    bucket occupancy — and with it the within-bucket candidate count —
    stays constant as the corpus densifies, and tables are solved so a
    true pair at exactly ``threshold`` escapes all of them with
    probability ≤ 1e-6. A fixed bit width is the canonical LSH scale
    bug: candidates grow ~n²/2^bits once n outruns the bucket space.
    Adaptive sizing costs one ``count()`` job; callers that know their
    corpus size regime can pass both explicitly to stay fully lazy.

    Scale: bucket keys are (table, bucket_id) — a shuffle on uniform
    small keys; the exact-cosine verify touches only within-bucket
    pairs. This is the embedding analogue of MinHash-LSH for text.
    Every table's bucket comes from one Arrow matmul kernel
    (:func:`knn.srp_buckets`). A null or wrong-length vector lands in
    bucket 0 of every table and goes through the same exact verify; a
    null or all-zero vector's cosine is null, so it never pairs.
    Without ``dim`` the width is sniffed from the first non-null
    vector; an input with none returns no pairs.
    """
    from ccgp_data_wrangling_spark.operators.knn import (
        _seeded_planes,
        cosine_sim,
        srp_adaptive_params,
        srp_buckets,
    )

    if dim is None:
        # the array element count isn't in the schema; sniffing it costs
        # one single-row job and makes the operator eager — callers that
        # know their embedding width should pass ``dim`` explicitly
        first = df.select(vec_col).where(F.col(vec_col).isNotNull()).head()
        if first is None:  # no vector at all: no pair
            return df.select(
                F.col(id_col).alias("id_a"),
                F.col(id_col).alias("id_b"),
                F.lit(None).cast("double").alias("cos_sim"),
            ).where(F.lit(False))
        dim = len(first[0])
    if n_tables is None or n_bits is None:
        auto_tables, auto_bits = srp_adaptive_params(
            df.select(id_col).count(), threshold
        )
        n_tables = auto_tables if n_tables is None else n_tables
        n_bits = auto_bits if n_bits is None else n_bits
    tables = _seeded_planes(n_tables, n_bits, dim, seed)
    v = F.col(vec_col).cast("array<double>")
    # persist the (id, vec, buckets) table: it feeds both sides of the
    # bucket self-join and both vector lookups of the verify, and
    # without it the Arrow SRP projection would run once per branch
    if scope is None:
        scope = active_scope("embedding_neardup_pairs")
    base = scope.persist(
        srp_buckets(
            df.select(F.col(id_col).alias("id"), v.alias("vec")),
            tables,
            vec_col="vec",
        )
    )
    banded = base.select(
        "id", F.posexplode("__buckets").alias("table_idx", "bucket")
    )
    left = banded.select("table_idx", "bucket", F.col("id").alias("id_a"))
    right = banded.select("table_idx", "bucket", F.col("id").alias("id_b"))
    cands = (
        left.join(right, ["table_idx", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "cos_sim", F.round(cosine_sim(F.col("vec_a"), F.col("vec_b")), 4)
        )
        # filter on the ROUNDED value — oracles must round identically
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


# ---------------------------------------------------------------------------
# Incremental MinHash: new batch vs a persisted signature index
# ---------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """``(id, sh, sig)`` signature index for a corpus snapshot.

    This frame IS the dedup state: write it to parquet alongside the
    snapshot and fold tomorrow's batch in with
    :func:`minhash_neardup_incremental` — the historical corpus is
    never re-tokenized. At 100 TB the index is ~1000× smaller than
    the text it summarizes (64 longs + the shingle-hash set per doc).
    """
    return df.select(
        F.col(id_col).alias("id"),
        shingle_hashes(F.col(text_col), shingle_k).alias("sh"),
    ).withColumn("sig", minhash_signature(F.col("sh"), n_hashes, seed))


def _band_table(sig_table: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """Explode a ``(id, sig)`` frame into ``(id, band_idx, band_hash)``."""
    rows = n_hashes // bands
    band_hashes = F.array(
        *[
            F.hash(F.slice(F.col("sig"), b * rows + 1, rows))
            for b in range(bands)
        ]
    )
    return sig_table.select(
        "id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )


def minhash_neardup_incremental(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.7,
    n_hashes: int = 64,
    bands: int = 32,
    shingle_k: int = 5,
    seed: int = 42,
    max_bucket: int = 1000,
    scope: CacheScope | None = None,
) -> DataFrame:
    """New-batch near-dups against a historical index:
    ``(new_id, old_id, jaccard ≥ threshold)`` pairs ONLY across the
    boundary — old×old was settled when the index was built, new×new
    belongs to a subsequent self-dedup of the deduplicated batch.

    Scale shape (why this exists): a naive daily dedup re-runs LSH
    over old ∪ new — O(corpus) work per day. Here the old side
    contributes only its (id, band) rows (recomputed from the stored
    64-long signature — ~bands array-hashes per row, no tokenize) and
    the equi-join keys are band buckets, so daily cost is
    O(new batch + matched buckets). The ``max_bucket`` guard drops
    pathological buckets ON THE INDEX SIDE (the big side) exactly as
    the batch operator does.

    ``index`` is a frame from :func:`minhash_index` (typically read
    back from parquet); parameters must match those the index was
    built with — n_hashes is validated against the stored signature
    width, shingle_k/seed cannot be checked and are the caller's
    contract.
    """
    if scope is None:
        scope = active_scope("minhash_neardup_incremental")
    new_sig = scope.persist(
        minhash_index(
            new_df, id_col, text_col,
            n_hashes=n_hashes, shingle_k=shingle_k, seed=seed,
        )
    )
    # the index is consumed twice (band build + sh verify re-attach);
    # persisting is a no-op when it's already a materialized parquet
    # read, and prevents double signature recompute when a caller
    # passes the lazy minhash_index() expression directly
    old_sig = scope.persist(index)
    new_bands = _band_table(new_sig, n_hashes, bands)
    old_bands = _band_table(old_sig, n_hashes, bands)

    # skew guard on the index side: drop buckets that would fan out
    old_bands = _cap_buckets(old_bands, max_bucket)

    cands = (
        new_bands.select(
            "band_idx", "band_hash", F.col("id").alias("new_id")
        )
        .join(
            old_bands.select(
                "band_idx", "band_hash", F.col("id").alias("old_id")
            ),
            ["band_idx", "band_hash"],
        )
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )

    sh_new = new_sig.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_n"))
    sh_old = old_sig.select(F.col("id").alias("old_id"), F.col("sh").alias("sh_o"))
    inter = F.size(F.array_intersect("sh_n", "sh_o"))
    union = F.size(F.array_union("sh_n", "sh_o"))
    return (
        cands.join(sh_new, "new_id")
        .join(sh_old, "old_id")
        .withColumn("jaccard", inter.cast("double") / union)
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", F.round("jaccard", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# TF-IDF sparse cosine similarity join
# ---------------------------------------------------------------------------


def _dense_tfidf_dots(
    weights: DataFrame, n_terms: int, threshold: float, scope
) -> DataFrame:
    """All-pairs integer dot products for a SMALL vocabulary via
    blocked dense BLAS (see tfidf_cosine_pairs docstring): docs →
    fixed-term-order integer vectors; rows hash into B blocks; each
    of the B(B+1)/2 block pairs computes one float64 matmul (exact on
    these integer magnitudes) and emits candidate pairs above a
    1e-6-margin provisional cosine as ``(id_a, id_b, dot_s)``. Every
    unordered pair lands in exactly one block pair, so no distinct is
    needed. O(n²) work is inherent to a corpus where everything
    overlaps; the blocking makes it B(B+1)/2-way parallel BLAS
    instead of a shuffle join over Σ df² rows."""
    from collections.abc import Iterator  # noqa: F401  (doc parity)

    import numpy as np
    import pandas as pd

    spark = weights.sparkSession
    terms = [r.t for r in weights.select("t").distinct().orderBy("t").collect()]
    terms_lit = F.array(*[F.lit(t) for t in terms])
    dense = (
        weights.groupBy("id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("t", "w_s"))
            ).alias("m")
        )
        .select(
            "id",
            F.transform(
                terms_lit,
                lambda tt: F.coalesce(
                    F.element_at(F.col("m"), tt), F.lit(0)
                ).cast("double"),
            ).alias("v"),
        )
    )
    # persisted: the count below materializes it once; both join sides
    # of the block fan-out then reuse the cached vectors
    dense = scope.persist(dense)
    n_docs = dense.count()
    # enough block pairs to feed the cluster (B(B+1)/2 tasks), blocks
    # small enough that a pair's matmul stays cache-friendly
    n_blocks = int(max(8, min(64, -(-n_docs // 2000))))
    bp = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "bi int, bj int",
    )
    db = dense.withColumn(
        "b", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    )
    side_a = db.join(bp, F.col("b") == F.col("bi")).select(
        "bi", "bj", "id", "v", F.lit(0).alias("side")
    )
    side_b = db.join(bp, F.col("b") == F.col("bj")).select(
        "bi", "bj", "id", "v", F.lit(1).alias("side")
    )
    both = side_a.unionByName(side_b)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "dot_s": []}).astype(
            {"id_a": "int64", "id_b": "int64", "dot_s": "int64"}
        )
        a = pdf[pdf["side"] == 0]
        if not len(a):
            return empty
        diag = bool(pdf["bi"].iat[0] == pdf["bj"].iat[0])
        ids_a = a["id"].to_numpy()
        Va = np.stack(a["v"].to_numpy())
        if diag:
            ids_b, Vb = ids_a, Va
        else:
            b = pdf[pdf["side"] == 1]
            if not len(b):
                return empty
            ids_b = b["id"].to_numpy()
            Vb = np.stack(b["v"].to_numpy())
        dots = Va @ Vb.T  # exact: integer-valued float64, sums < 2^53
        na = np.sqrt((Va * Va).sum(axis=1))
        nb = np.sqrt((Vb * Vb).sum(axis=1))
        cos = dots / np.maximum(np.outer(na, nb), 1e-300)
        ii, jj = np.nonzero(cos >= threshold - 1e-6)
        id_a, id_b = ids_a[ii], ids_b[jj]
        if diag:
            keep = id_a < id_b
        else:
            keep = np.ones(len(id_a), dtype=bool)
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            id_a, id_b = lo, hi
        return pd.DataFrame(
            {
                "id_a": id_a[keep].astype("int64"),
                "id_b": id_b[keep].astype("int64"),
                "dot_s": dots[ii, jj][keep].astype("int64"),
            }
        )

    return both.groupBy("bi", "bj").applyInPandas(
        kernel, schema="id_a long, id_b long, dot_s long"
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    max_df: int | None = 10_000,
    idf_scale: int = 1000,
    dense_vocab: int = 512,
    scope: CacheScope | None = None,
) -> DataFrame:
    """Document pairs with TF-IDF cosine ≥ ``threshold``
    (id_a < id_b, cos_sim rounded 4 dp).

    The weighted companion of the Jaccard/MinHash families: rare
    terms dominate the score, so boilerplate-sharing documents stop
    matching while topically-identical ones still do. Candidates come
    from the inverted index (docs sharing ≥1 term), the dot product
    accumulates per shared term — never a dense |V|-dim vector.

    Determinism: tf is integral; idf = round(ln((N+1)/(df+1))+1, 3)
    carried as an exact integer in 1/``idf_scale`` units, so every
    per-term weight product and both norms' squared sums are EXACT
    integer arithmetic (bounded: idf_s ≤ ~10·scale, tf ≤ doc length —
    products stay far under 2^63 at these scales); the only floats
    are the two final sqrt/divide ops, rounded to 4 dp. Partition
    order cannot move the result.

    ``max_df`` drops stop-terms from CANDIDATE GENERATION and the
    dot product alike (their idf ≈ low anyway); it is a documented
    semantic cap exactly like ngram_jaccard_pairs' guard.

    Candidate restriction picks one of two COMPLETE strategies, so
    results are bit-identical to the naive index × index join either
    way:

    * **Sparse (Zipf) corpora** — the cosine prefix filter (Bayardo,
      Ma & Srikant, WWW 2007 "Scaling Up All Pairs Similarity
      Search"): terms get one global order (corpus-max unit weight
      descending); each document's SUFFIX in that order is the
      maximal tail whose ``Σ u_i · umax_i`` stays below the
      threshold, and a pair at cosine ≥ t provably shares its
      order-earliest common term inside BOTH prefixes — candidates =
      prefix × prefix (Σ prefix_df² ≪ Σ df²), float bound padded
      1e-6 toward permissiveness.
    * **Dense (small-vocabulary) corpora** — when the post-cap
      vocabulary is ≤ ``dense_vocab`` terms, no sparse index can
      prune (every pair shares terms; measured 20 s at sf0.1 on the
      31-term benchmark corpus, 28× superlinear vs sf0.01). The
      all-pairs dot products then run as BLOCKED dense matmuls inside
      an Arrow kernel: docs → fixed-order integer vectors, block-pair
      fan-out, one float64 BLAS product per block pair. EXACT because
      every value is an integer: weights ≤ ~2.4e6, per-term products
      ≤ 6e12, 31-term sums ≤ 2e14 < 2^53 — all representable, so the
      matmul equals the integer dot bit-for-bit, and the kernel emits
      integer ``dot_s`` with a 1e-6-margin provisional filter while
      the FINAL cosine/round/threshold runs in the same JVM
      expression as the sparse path.
    """
    from ccgp_data_wrangling_spark.operators.corpus_stats import (
        corpus_tokens,
    )

    if scope is None:
        scope = active_scope("tfidf_cosine_pairs")
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(corpus_tokens(text_col)).alias("t"),
        )
        .groupBy("id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.select(id_col).distinct().count()
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    if max_df is not None:
        dfreq = dfreq.where(F.col("df") <= max_df)
    idf_s = F.round(
        (F.log((n_docs + 1.0) / (F.col("df") + 1.0)) + 1.0) * idf_scale, 0
    ).cast("long")
    weights = scope.persist(
        tf.join(dfreq.select("t", idf_s.alias("idf_s")), "t").select(
            "id", "t", (F.col("tf") * F.col("idf_s")).alias("w_s")
        )
    )
    norms = scope.persist(
        weights.groupBy("id").agg(
            F.sum(F.col("w_s") * F.col("w_s")).alias("norm_sq_s")
        )
    )
    n_terms = dfreq.count()
    if n_terms <= dense_vocab:
        dots = _dense_tfidf_dots(weights, n_terms, threshold, scope)
    else:
        # cosine prefix filter: global term order = umax desc (tie:
        # term asc); per doc, accumulate u·umax from the order's TAIL
        # — rows whose inclusive running sum reaches the threshold
        # form the prefix. The earliest shared term of any pair at
        # cos ≥ t lies in both prefixes (see docstring), so
        # prefix × prefix is complete.
        u = weights.join(norms, "id").select(
            "id",
            "t",
            (F.col("w_s") / F.sqrt(F.col("norm_sq_s").cast("double"))).alias("u"),
        )
        umax = u.groupBy("t").agg(F.max("u").alias("umax"))
        uu = u.join(umax, "t").select(
            "id", "t", "umax", (F.col("u") * F.col("umax")).alias("c")
        )
        from pyspark.sql import Window

        rev_order = Window.partitionBy("id").orderBy(F.asc("umax"), F.desc("t"))
        pref = scope.persist(
            uu.withColumn("run", F.sum("c").over(rev_order))
            .where(F.col("run") >= threshold - 1e-6)
            .select("id", "t")
        )
        cand = (
            pref.select("t", F.col("id").alias("id_a"))
            .join(pref.select("t", F.col("id").alias("id_b")), "t")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        wa = weights.select(
            F.col("id").alias("id_a"), "t", F.col("w_s").alias("wa")
        )
        wb = weights.select(
            F.col("id").alias("id_b"), "t", F.col("w_s").alias("wb")
        )
        dots = (
            cand.join(wa, "id_a")
            .join(wb, ["id_b", "t"])
            .groupBy("id_a", "id_b")
            .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot_s"))
        )
    na = norms.select(F.col("id").alias("id_a"), F.col("norm_sq_s").alias("na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("norm_sq_s").alias("nb"))
    cos = F.round(
        F.col("dot_s") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))), 4
    )
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cos_sim", cos)
        .where(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str,
    bits_col: str,
    *,
    max_hamming: int = 3,
    n_bands: int | None = None,
    band_width: int | None = None,
    max_band: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs over fixed-width bit fingerprints
    (pHash/simhash-class longs): ``(id_a, id_b, hamming)`` for every
    pair with ``popcount(a XOR b) <= max_hamming``.

    Pigeonhole banding, the simhash discipline applied to an existing
    fingerprint column: split the fingerprint into ``n_bands``
    contiguous ``band_width``-bit bands; two fingerprints differing in
    at most ``max_hamming < n_bands`` bits agree EXACTLY on some band,
    so candidates = pairs equal on (band index, band value) — an
    ids-only equi-join, never the pair space. Verify is a single
    ``bit_count(a ^ b)`` per candidate pair (pure codegen, replayable
    verbatim in SQL). ``max_band`` drops degenerate band buckets (the
    all-zeros band every near-blank fingerprint shares) — the
    hot-bucket cap the other dedup families carry; as everywhere, the
    cap trades recall, never correctness.

    By default the band layout is DERIVED from ``max_hamming``: the
    minimum complete band count (``max_hamming + 1``) at the maximum
    width (``64 // n_bands``). Wider bands are strictly better for
    candidate volume on uniform fingerprints — expected collisions
    per band are n²/2^(band_width+1), so 4×16 (max_hamming=3) buckets
    256× finer than 8×8. The round-7 scaling fit measured exactly
    this: the 8×8 layout went superlinear (exponent 1.45, 2.7 s →
    77 s across a 10× decade) while 4×16 stays linear — narrow bands
    are a corpus-size trap, not a tuning detail. Explicit
    ``n_bands``/``band_width`` still override (both must be given).

    Raises when ``max_hamming >= n_bands`` — banding completeness
    would be lost silently otherwise.
    """
    n_bands, band_width = _hamming_layout(max_hamming, n_bands, band_width)
    src = df.select(F.col(id_col).alias("id"), F.col(bits_col).alias("fp"))
    bands = _cap_buckets(_hamming_bands(src, n_bands, band_width), max_band)
    cand = (
        bands.select("band", "bval", F.col("id").alias("id_a"))
        .join(
            bands.select("band", "bval", F.col("id").alias("id_b")),
            ["band", "bval"],
        )
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _hamming_verify(cand, src, max_hamming)


def _hamming_layout(
    max_hamming: int, n_bands: int | None = None, band_width: int | None = None
) -> tuple[int, int]:
    """``(n_bands, band_width)`` of a complete Hamming banding.

    Without an explicit layout: the minimum complete band count
    (``max_hamming + 1``) at the maximum width (``64 // n_bands``), see
    :func:`hamming_neardup_pairs`. Raises ``ValueError`` when only one
    of ``n_bands``/``band_width`` is given, when ``max_hamming >=
    n_bands`` (banding completeness would be lost silently), or when
    the bands run past bit 63.
    """
    if (n_bands is None) != (band_width is None):
        raise ValueError("give both n_bands and band_width, or neither")
    if n_bands is None:
        n_bands = max_hamming + 1
        band_width = 64 // n_bands
    if max_hamming >= n_bands:
        raise ValueError("completeness requires max_hamming < n_bands")
    if n_bands * band_width > 64:
        # bands past bit 63 are degenerate (shiftright saturates into a
        # constant sign-extension value), silently creating one giant
        # candidate bucket per sign class — a perf trap, not a
        # correctness bug, so reject the configuration outright
        raise ValueError(
            f"n_bands*band_width = {n_bands * band_width} exceeds the "
            "64-bit fingerprint width — bands past bit 63 are degenerate"
        )
    return n_bands, band_width


def _hamming_bands(fps: DataFrame, n_bands: int, band_width: int) -> DataFrame:
    """Explode an ``(id, fp)`` frame into ``(id, band, bval)``:
    ``n_bands`` contiguous ``band_width``-bit bands, low bits first."""
    mask = (1 << band_width) - 1
    band_vals = F.array(
        *[
            F.shiftright(F.col("fp"), i * band_width).bitwiseAND(F.lit(mask))
            for i in range(n_bands)
        ]
    )
    return fps.select("id", F.posexplode(band_vals).alias("band", "bval"))


def _hamming_verify(cands: DataFrame, fps: DataFrame, max_hamming: int) -> DataFrame:
    """``(id_a, id_b, hamming)`` for the candidate pairs within
    ``max_hamming`` bits: one ``bit_count(a ^ b)`` per pair, with the
    fingerprints of the ``(id, fp)`` frame ``fps`` attached by id."""
    a = fps.select(F.col("id").alias("id_a"), F.col("fp").alias("__ba"))
    b = fps.select(F.col("id").alias("id_b"), F.col("fp").alias("__bb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__ba").bitwiseXOR(F.col("__bb")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )
