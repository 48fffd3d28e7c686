"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline
  (queries/llm_ops.py:knn_top10_cosine carries the DuckDB oracle)
* SRP-LSH (signed random projections) bucketed search — the scale
  path: hash each vector to ``n_bits`` sign bits per table; a query
  probes only its buckets, turning a full-scan re-rank into a
  candidate re-rank.
* IVF (inverted file) search — corpus rows assign to their nearest
  centroid of a seeded corpus sample; a query re-ranks only the cells
  of its ``n_probe`` nearest centroids.

Constant sets (SRP planes, centroids) reach the executors one way:
captured as a numpy matrix in one of the two Arrow kernels below,
:func:`srp_buckets` and :func:`nearest_centroids` — one BLAS matmul
per batch, the FAISS-style form that holds at √n centroids. Baking
them into the plan as expression literals costs codegen time that
grows with the constant (seconds at 32×64 centroids), and Spark
evaluates the array HOFs over them interpreted. dedup.py and
semdedup.py call these kernels and nothing else for their constants.
(:func:`jl_project` still returns literal-matrix Columns, because its
callers compose them into their own select.)
The exact cosine re-rank stays a ``zip_with``+``aggregate`` Column
expression (:func:`cosine_sim`). Planes and centroid samples are
seeded — deterministic across runs.

A vector that is null or has the wrong length never fails a task:
it lands in bucket 0 of every SRP table and gets no centroid, so IVF
never probes it and SemDeDup never pairs it. An all-zero vector has a
null cosine, like a null one.

Scale notes: corpus signatures are computed in ONE narrow scan (all
tables at once), no shuffle; the probe filter prunes before the
exact re-rank, and the final top-k is a rank over ≤ candidates.
For a persisted 100 TB corpus you'd write the bucketed table
partitioned by (table, bucket) so a query is partition-pruned I/O,
and periodically rebuild signatures as vectors churn.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def srp_adaptive_params(
    n: int,
    threshold: float,
    *,
    rand_collisions_per_vec: float = 1.0,
    miss_prob: float = 1e-6,
    min_bits: int = 6,
    max_bits: int = 30,
    max_tables: int = 48,
) -> tuple[int, int]:
    """``(n_tables, n_bits)`` for an SRP-LSH self-join over ``n``
    vectors at cosine ``threshold`` — the classic LSH sizing
    (Charikar STOC'02 / Indyk–Motwani):

    * **bits grow with log2(n)** so the expected RANDOM collisions per
      vector per table (``n · 0.5^bits`` for near-orthogonal pairs)
      stay ≈ ``rand_collisions_per_vec``. A FIXED bit width is the
      canonical LSH scale bug: bucket occupancy — and with it the
      within-bucket candidate count — grows quadratically with corpus
      density once ``n`` outruns ``2^bits``.
    * **tables are solved from the threshold's per-table collision
      probability** ``p = (1 - θ/π)^bits`` so a true pair at exactly
      ``threshold`` escapes every table with probability ≤
      ``miss_prob`` — recall stays pinned as bits rise. Table count
      grows only polylog (∝ n^(ln(π/(π-θ))/ln 2), exponent ≈ 0.07 at
      0.99), so total work stays ~n^(1+ρ) with small ρ instead of n².

    ``max_tables`` is BEST-EFFORT: if the solved table count exceeds
    it, bits are walked back toward ``min_bits``, trading candidate
    volume for the recall guarantee — but once bits bottoms out at
    ``min_bits`` the solved table count is returned as-is, which for
    loose thresholds (e.g. 0.5) can be far above ``max_tables``.
    Recall wins over the table budget by design: a silently-degraded
    miss probability is the worse failure. Callers needing a hard
    table cap must pass ``n_tables`` explicitly and own the recall.
    """
    import math

    theta = math.acos(max(-1.0, min(1.0, float(threshold))))
    p_bit = 1.0 - theta / math.pi
    bits = math.ceil(math.log2(max(n, 2) / max(rand_collisions_per_vec, 0.5)))
    bits = max(min_bits, min(max_bits, bits))
    while True:
        p_table = p_bit**bits
        if p_table >= 1.0:  # threshold == 1.0: exact-duplicate vectors
            return 1, bits  # collide in any one table with certainty
        tables = math.ceil(math.log(miss_prob) / math.log(1.0 - p_table))
        if tables <= max_tables or bits <= min_bits:
            return max(2, tables), bits
        bits -= 1


def _seeded_planes(
    n_tables: int, n_bits: int, dim: int, seed: int
) -> list[list[list[float]]]:
    rng = random.Random(seed)
    return [
        [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]
        for _ in range(n_tables)
    ]


def _py_bucket(query_vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side twin of :func:`srp_buckets` for one table (same
    MSB-first fold; first plane = most-significant bit)."""
    b = 0
    for plane in planes:
        bit = 0 if sum(x * w for x, w in zip(query_vec, plane)) < 0 else 1
        b = b * 2 + bit
    return b


def _py_cos(a: list[float], b: list[float]) -> float:
    """Driver-side cosine (0.0 against a zero vector), for
    :func:`ivf_topk`'s probe ranking."""
    dot = sum(x * y for x, y in zip(a, b))
    na = sum(x * x for x in a) ** 0.5
    nb = sum(x * x for x in b) ** 0.5
    return dot / (na * nb) if na and nb else 0.0


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine of two array columns; null when either is null or has a
    zero norm (``try_divide``: under ANSI mode a plain ``/`` would fail
    the job on one all-zero vector). A null cosine ranks after every
    real one and never passes a threshold."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.try_divide(dot, na * nb)


def _ranked_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """Deterministic top-k with a rank column, scale-safe.

    orderBy+limit compiles to TakeOrderedAndProject (each partition
    keeps a local top-k, the driver merges) — a global row_number
    window would instead move EVERY scored row to one partition. The
    rank window afterwards only ever sees k rows.
    """
    order = [F.desc("cos_sim"), F.asc(id_col)]
    top = scored.orderBy(*order).limit(k)
    return top.withColumn("rank", F.row_number().over(W.orderBy(*order)))


def _valid_vectors(vecs, dim: int):
    """``(ok, V)`` for one Arrow batch of a vector column: ``ok`` masks
    the rows whose vector is non-null with exactly ``dim`` elements,
    ``V`` stacks those rows as a float64 ``(ok.sum(), dim)`` matrix.
    Each kernel applies its own rule to the other rows, so one null or
    wrong-length vector never reaches ``np.stack`` and fails the task."""
    import numpy as np

    ok = np.fromiter(
        (v is not None and len(v) == dim for v in vecs), bool, len(vecs)
    )
    if not ok.any():
        return ok, np.empty((0, dim), dtype=np.float64)
    return ok, np.stack([np.asarray(v, dtype=np.float64) for v in vecs[ok]])


def srp_buckets(
    src: DataFrame,
    tables: list[list[list[float]]],
    *,
    vec_col: str,
) -> DataFrame:
    """Every SRP table's bucket for each row, as ONE Arrow kernel.

    Output = input columns + ``__buckets`` ``array<long>`` holding one
    bucket per table. One matmul computes every sign bit of every
    table; bits pack MSB-first like :func:`_py_bucket`. A null or
    wrong-length vector gets bucket 0 in every table.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    n_tables = len(tables)
    n_bits = len(tables[0]) if tables else 0
    P = np.asarray(
        [plane for table in tables for plane in table], dtype=np.float64
    )  # (n_tables*n_bits, dim)
    weights = (2 ** np.arange(n_bits - 1, -1, -1)).astype(np.int64)
    dim = P.shape[-1]
    schema = StructType(
        src.schema.fields + [StructField("__buckets", ArrayType(LongType()))]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, V = _valid_vectors(pdf[vec_col].to_numpy(), dim)
            bkts = np.zeros((len(pdf), n_tables), dtype=np.int64)
            # ~(dot < 0), not dot >= 0: a NaN dot sets its bit, as in
            # _py_bucket and in Spark's ordering (NaN above 0)
            bits = ~(V @ P.T < 0)
            bkts[ok] = bits.reshape(-1, n_tables, n_bits) @ weights
            yield pdf.assign(__buckets=list(bkts))

    return src.mapInPandas(op, schema=schema)


def ann_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_bits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k by cosine.

    One scan computes every table's bucket for each vector
    (:func:`srp_buckets`); a vector is a candidate if ANY table agrees
    with the query's bucket (:func:`_py_bucket` on the driver); exact
    cosine re-ranks candidates. Recall grows with n_tables, candidate
    count shrinks with n_bits.
    """
    tables = _seeded_planes(n_tables, n_bits, len(query_vec), seed)
    q_buckets = F.array(
        *[F.lit(_py_bucket(query_vec, t)).cast("long") for t in tables]
    )
    v = F.col(vec_col).cast("array<double>")
    cand = srp_buckets(
        emb.select(id_col, v.alias("__v")), tables, vec_col="__v"
    ).where(
        F.exists(
            F.zip_with("__buckets", q_buckets, lambda b, q: b == q),
            lambda hit: hit,
        )
    )
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        id_col,
        F.round(cosine_sim(F.col("__v"), qcol), 4).alias("cos_sim"),
    )
    return _ranked_topk(scored, k, id_col)


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k (the recall baseline for ann_topk)."""
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = emb.select(
        id_col,
        F.round(cosine_sim(F.col(vec_col).cast("array<double>"), qcol), 4).alias(
            "cos_sim"
        ),
    )
    return _ranked_topk(scored, k, id_col)


def _sample_centroids(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    seed: int | None,
) -> list[list[float]]:
    """Deterministic centroids, a bounded collect of ``n_centroids``
    corpus rows: those minimizing ``xxhash64(id, seed)`` (a seeded
    uniform sample with no RNG state), or the lowest ids when ``seed``
    is None. Null vectors and vectors with a null element are skipped,
    and so is any sampled vector whose width differs from the sample's
    most common width, so every centroid has the width
    :func:`nearest_centroids` compares at."""
    from collections import Counter

    key = F.col(id_col) if seed is None else F.xxhash64(id_col, F.lit(seed))
    rows = (
        emb.select(key.alias("k"), F.col(vec_col).cast("array<double>").alias("v"))
        .where(F.forall("v", lambda x: x.isNotNull()))  # null v: dropped
        .orderBy("k")
        .limit(n_centroids)
        .collect()
    )
    vecs = [[float(x) for x in r.v] for r in rows]
    if not vecs:
        return []
    dim = Counter(map(len, vecs)).most_common(1)[0][0]
    return [v for v in vecs if len(v) == dim]


def nearest_centroids(
    src: DataFrame,
    centroids: list[list[float]],
    k: int = 1,
    *,
    vec_col: str,
    round_dp: int | None = None,
) -> DataFrame:
    """The ``k`` nearest centroids by cosine, as ONE Arrow kernel.

    Output = input columns + ``__centroids`` ``array<int>`` of centroid
    indices, nearest first; ties go to the lowest index. ``round_dp``
    rounds the similarities before they are ranked, for callers whose
    oracle replays a rounded comparison. One BLAS matmul per batch
    against the pre-normalized centroid matrix. A null or
    wrong-length vector gets null (no centroid), and so does every
    row when ``centroids`` is empty.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    if not centroids:  # empty corpus sample: nothing to assign to
        return src.withColumn("__centroids", F.lit(None).cast("array<int>"))
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    dim = C.shape[1]
    k = min(k, len(centroids))
    schema = StructType(
        src.schema.fields
        + [StructField("__centroids", ArrayType(IntegerType()))]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ok, V = _valid_vectors(pdf[vec_col].to_numpy(), dim)
            Vn = V / np.maximum(
                np.linalg.norm(V, axis=1, keepdims=True), 1e-300
            )
            sims = Vn @ Cn.T
            if round_dp is not None:
                sims = np.round(sims, round_dp)
            # stable sort of -sim: descending similarity, lowest index
            # first among equals
            top = iter(
                np.argsort(-sims, axis=1, kind="stable")[:, :k].astype(np.int32)
            )
            yield pdf.assign(__centroids=[next(top) if o else None for o in ok])

    return src.mapInPandas(op, schema=schema)


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 32,
    n_probe: int = 8,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k by cosine.

    Coarse quantizer: ``n_centroids`` centroids drawn deterministically
    from the corpus itself (:func:`_sample_centroids`). Every vector is
    assigned to its nearest centroid by cosine
    (:func:`nearest_centroids`); a query probes the ``n_probe``
    centroids nearest to IT (ranked on the driver, same lowest-index
    tie-break) and exact-cosine re-ranks only vectors assigned there.

    Scale: at 100 TB the assignment is precomputed once and the corpus
    PERSISTED partitioned by ``centroid_id`` so a query's scan is
    partition-pruned to n_probe/n_centroids of the data; here the
    assignment is computed inline in the same scan, shuffle-free.
    """
    centroids = _sample_centroids(emb, id_col, vec_col, n_centroids, seed)
    probe = sorted(
        range(len(centroids)),
        key=lambda c: (-_py_cos(query_vec, centroids[c]), c),
    )[:n_probe]

    v = F.col(vec_col).cast("array<double>")
    cand = nearest_centroids(
        emb.select(id_col, v.alias("__v")), centroids, vec_col="__v"
    ).where(F.col("__centroids")[0].isin(*probe))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        id_col,
        F.round(cosine_sim(F.col("__v"), qcol), 4).alias("cos_sim"),
    )
    return _ranked_topk(scored, k, id_col)


def ivf_topk_multi(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    n_centroids: int = 32,
    n_probe: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Batch IVF retrieval: top-k corpus neighbors for EVERY row of a
    query DataFrame, in one distributed plan — the multi-query layout
    the single-query :func:`ivf_topk` docstring promises at 100 TB,
    with no per-query driver loop.

    Shape:

    1. coarse quantizer = the same deterministic corpus sample as
       ``ivf_topk``;
    2. corpus rows assign to their nearest centroid
       (:func:`nearest_centroids` with k = 1, shuffle-free);
    3. each QUERY row takes its ``n_probe`` nearest centroids (the
       same kernel with k = ``n_probe``, same lowest-index tie-break)
       and explodes to ``(query_id, centroid)`` probe rows;
    4. probes equi-join the assigned corpus on the centroid id —
       candidate volume per query is the occupancy of its probed
       cells, never |corpus|;
    5. exact cosine re-rank per query via a per-key window (millions
       of small ``query_id`` partitions — the scalable direction; no
       global sort).

    At 100 TB the assigned corpus is PERSISTED partitioned by
    ``centroid_id`` (write once), making step 4 a partition-pruned
    scan; here assignment runs inline in the same job.

    Output: ``(query_id, id, cos_sim, rank)`` with rank 1..k/query.
    """
    centroids = _sample_centroids(emb, id_col, vec_col, n_centroids, seed)
    v = F.col(vec_col).cast("array<double>")
    qv = F.col(query_vec_col).cast("array<double>")
    corpus = nearest_centroids(
        emb.select(id_col, v.alias("__v")), centroids, vec_col="__v"
    ).select(id_col, "__v", F.col("__centroids")[0].alias("__centroid"))
    qp = nearest_centroids(
        queries.select(query_id_col, qv.alias("__qv")),
        centroids,
        n_probe,
        vec_col="__qv",
    ).select(query_id_col, "__qv", F.explode("__centroids").alias("__centroid"))

    scored = qp.join(corpus, "__centroid").select(
        query_id_col,
        id_col,
        F.round(cosine_sim(F.col("__v"), F.col("__qv")), 4).alias("cos_sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def jl_project(
    df: DataFrame,
    vec_col: str,
    *,
    dim: int,
    out_dim: int = 16,
    seed: int = 7,
) -> list[Column]:
    """Johnson–Lindenstrauss random projection: ``out_dim`` Columns
    ``y00..`` projecting ``vec_col`` (width ``dim``) onto seeded
    Gaussian directions, scaled by 1/√out_dim.

    The cheap, distribution-free dimensionality reduction an embedding
    pipeline runs before clustering / dedup at scale: distances are
    preserved within (1±ε) w.h.p., and the projection is a pure
    per-row Column expression — O(out_dim·dim) arithmetic, no shuffle,
    no model state beyond the seeded literal matrix (out_dim·dim
    doubles, inlined into the plan exactly like the SRP planes).

    Returns the projection Columns (rounded to 6 dp) so callers
    compose them into their own select.
    """
    import math

    planes = _seeded_planes(1, out_dim, dim, seed)[0]
    v = F.col(vec_col).cast("array<double>")
    scale = 1.0 / math.sqrt(out_dim)
    out = []
    for i, row in enumerate(planes):
        r = F.array(*[F.lit(float(w)) for w in row])
        dot = F.aggregate(
            F.zip_with(v, r, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out.append(F.round(dot * scale, 6).alias(f"y{i:02d}"))
    return out
