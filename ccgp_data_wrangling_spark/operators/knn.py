"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exact baseline
  (queries/llm_ops.py:knn_top10_cosine carries the DuckDB oracle)
* SRP-LSH (signed random projections) bucketed search — the scale
  path: hash each vector to ``n_bits`` sign bits per table; a query
  probes only its buckets, turning a full-scan re-rank into a
  candidate re-rank.

Dot products / norms are ``zip_with``+``aggregate`` Column
expressions (JVM-side). Projection planes are seeded and embedded as
nested array literals — deterministic across runs.

Scale notes: corpus signatures are computed in ONE narrow scan (all
tables at once), no shuffle; the probe filter prunes before the
exact re-rank, and the final top-k is a rank over ≤ candidates.
For a persisted 100 TB corpus you'd write the bucketed table
partitioned by (table, bucket) so a query is partition-pruned I/O,
and periodically rebuild signatures as vectors churn.
"""

from __future__ import annotations

import random
from functools import reduce

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


def _planes_lit(planes: list[list[float]]) -> Column:
    return F.array(
        *[F.array(*[F.lit(float(w)) for w in p]) for p in planes]
    )


def srp_bucket(vec: Column, planes: list[list[float]] | Column) -> Column:
    """Signed-random-projection bucket id (one sign bit per plane).

    ``planes`` may be a Python plane list (inlined as literals) or a
    Column already carrying ``array<array<double>>`` — the broadcast
    table carrier that avoids codegen blowup for large plane sets.

    The sign bits and the bit-packing are ONE expression pass: packing
    via per-plane powers inside the same transform, then a single sum
    fold. (Referencing a bits-array subexpression once per bit would
    let projection collapse duplicate the n_bits dot products n_bits
    times — interpreted HOFs make that an O(n_bits²·dim) per-row cost.)
    """
    bits = F.transform(
        planes if isinstance(planes, Column) else _planes_lit(planes),
        lambda p: F.when(
            F.aggregate(
                F.zip_with(vec, p, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1).cast("long"),
        ).otherwise(F.lit(0).cast("long")),
    )
    # positional fold: first plane = most-significant bit; _py_bucket
    # mirrors this convention for the query side
    return F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )


def _py_bucket(query_vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side twin of :func:`srp_bucket` (same MSB-first fold)."""
    b = 0
    for plane in planes:
        bit = 1 if sum(x * w for x, w in zip(query_vec, plane)) >= 0 else 0
        b = b * 2 + bit
    return b


def cosine_sim(a: Column, b: Column) -> Column:
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


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


def _srp_hit_kernel(
    src: DataFrame,
    tables: list[list[list[float]]],
    q_buckets: list[int],
    *,
    vec_col: str,
) -> DataFrame:
    """LSH candidate filter as ONE Arrow kernel: keep the rows whose
    SRP bucket matches the query's bucket in ANY table. One matmul
    computes every sign bit of every table; MSB-first packing matches
    :func:`srp_bucket` / :func:`_py_bucket`. Schema is unchanged (a
    pure filter), so the exact-cosine re-rank downstream is the same
    Column expression either way."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    n_tables = len(tables)
    n_bits = len(tables[0]) if tables else 0
    P = np.asarray(
        [plane for table in tables for plane in table], dtype=np.float64
    )  # (n_tables*n_bits, dim)
    weights = (2 ** np.arange(n_bits - 1, -1, -1)).astype(np.int64)
    qb = np.asarray(q_buckets, dtype=np.int64)
    dim = P.shape[-1]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = pdf[vec_col].to_numpy()
            # the Column carriers read a null or wrong-length vector's
            # dot products as null, hence every bit 0: bucket 0 in
            # every table. Mask those rows out of the matmul to match.
            ok = np.fromiter(
                (v is not None and len(v) == dim for v in vecs), bool, len(vecs)
            )
            bkts = np.zeros((len(pdf), n_tables), dtype=np.int64)
            if ok.any():
                V = np.stack([np.asarray(x, dtype=np.float64) for x in vecs[ok]])
                # ~(dot < 0), not dot >= 0: Spark orders NaN above 0
                bits = ~(V @ P.T < 0)
                bkts[ok] = bits.reshape(-1, n_tables, n_bits) @ weights
            yield pdf[(bkts == qb).any(axis=1)]

    return src.mapInPandas(op, schema=src.schema)


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
    carrier: str = "auto",
) -> DataFrame:
    """Approximate top-k by cosine.

    One scan computes every table's bucket for each vector; a vector
    is a candidate if ANY table agrees with the query's bucket; exact
    cosine re-ranks candidates. Recall grows with n_tables, candidate
    count shrinks with n_bits.

    The plane set reaches the executors via :func:`_resolve_carrier`,
    like dedup/semdedup: expression literals while small, one Arrow
    matmul kernel above ``_LITERAL_BUDGET`` doubles (8·12·64 = 6144 at
    the registered defaults — measured at sf0.1, the literal hit
    filter costs ~1.2 s of interpreted HOF evaluation per scan where
    the kernel filter is one sub-ms matmul per batch). The exact
    cosine re-rank of candidates is the identical Column expression on
    every path.
    """
    tables = _seeded_planes(n_tables, n_bits, len(query_vec), seed)
    q_buckets = [_py_bucket(query_vec, t) for t in tables]
    v = F.col(vec_col).cast("array<double>")

    mode = _resolve_carrier(n_tables * n_bits * len(query_vec), carrier)
    if mode == "kernel":
        cand = _srp_hit_kernel(emb, tables, q_buckets, vec_col=vec_col)
    elif mode == "table":
        tdf = emb.sparkSession.createDataFrame(
            [(tables, [int(b) for b in q_buckets])],
            "__tables array<array<array<double>>>, __qb array<long>",
        )
        hit = F.exists(
            F.zip_with(
                F.col("__tables"),
                F.col("__qb"),
                lambda planes, b: srp_bucket(v, planes) == b,
            ),
            lambda x: x,
        )
        cand = (
            emb.crossJoin(F.broadcast(tdf)).where(hit).select(*emb.columns)
        )
    else:
        hit = reduce(
            lambda a, b: a | b,
            [srp_bucket(v, planes) == qb for planes, qb in zip(tables, q_buckets)],
        )
        cand = emb.where(hit)

    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        id_col,
        F.round(cosine_sim(v, qcol), 4).alias("cos_sim"),
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
    emb: DataFrame, id_col: str, vec_col: str, n_centroids: int, seed: int
) -> list[list[float]]:
    """Deterministic coarse-quantizer centroids: the corpus rows
    minimizing ``xxhash64(id, seed)`` — a seeded uniform sample with
    no RNG state, bounded collect (n_centroids rows)."""
    rows = (
        emb.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
        .withColumn("hk", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("hk")
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r.v] for r in rows]


def _centroid_lit(centroids: list[list[float]]) -> Column:
    """(idx, vector) struct-array literal — rides into executors inside
    the plan, broadcast-equivalent, no shuffle. An empty centroid set
    (empty corpus) yields a TYPED empty array so downstream
    transform/array_max still analyze."""
    if not centroids:
        return F.array().cast("array<struct<idx:int, cv:array<double>>>")
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("idx"),
                F.array(*[F.lit(float(x)) for x in c]).alias("cv"),
            )
            for i, c in enumerate(centroids)
        ]
    )


#: doubles above which centroid/plane carriers switch from expression
#: literals to a broadcast one-row table. Literals bake every value
#: into the generated code: at sf0.1 the 32x64 IVF centroid set cost
#: ~1.3 MiB task binaries and 2.4-3.5 s of CONSTANT codegen compile —
#: the two slowest bench entries of round 5 — and at the sqrt(n)
#: centroid counts a 100 TB corpus needs, the literal plan stops
#: compiling outright. A one-row broadcast keeps the same per-row
#: arithmetic (the HOF transform is interpreted either way) with a
#: KB-scale plan. 256 doubles ≈ the point where measured compile cost
#: starts to beat the kernel's Python-worker round trip at sf0.1.
_LITERAL_BUDGET = 256


def _resolve_carrier(n_values: int, carrier: str) -> str:
    """Pick how a centroid/plane constant reaches the executors.

    ``literal``: inline expression literals — fine below
    ``_LITERAL_BUDGET`` doubles, codegen-toxic above it.
    ``table``: one-row broadcast frame + the same Column arithmetic —
    KB-scale plan, demonstrates the pure-DataFrame shape, but Spark
    evaluates array HOFs interpreted, so per-row cost is high.
    ``kernel``: Arrow ``mapInPandas`` with the constant captured as a
    numpy matrix — one BLAS matmul per batch, the FAISS-style form
    that holds at √n centroids on a 100 TB corpus.
    ``auto`` = literal when small, kernel when large.
    """
    if carrier not in ("auto", "literal", "table", "kernel"):
        raise ValueError(
            f"carrier must be auto|literal|table|kernel, got {carrier!r}"
        )
    if carrier == "auto":
        return "kernel" if n_values > _LITERAL_BUDGET else "literal"
    return carrier


def _use_table_carrier(n_values: int, carrier: str) -> bool:
    return _resolve_carrier(n_values, carrier) == "table"


def _centroid_frame(spark, centroids: list[list[float]]) -> DataFrame:
    """One-row DataFrame carrying the centroid set as data
    (``__cents: array<struct<idx,cv>>``) — crossJoin(broadcast(...))
    attaches it to every row with no shuffle and no codegen blowup."""
    rows = [([(i, [float(x) for x in c]) for i, c in enumerate(centroids)],)]
    return spark.createDataFrame(
        rows, "__cents array<struct<idx:int, cv:array<double>>>"
    )


def assign_centroids_kernel(
    src: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str,
    out_col: str = "__centroid",
    round_dp: int | None = None,
) -> DataFrame:
    """Nearest-centroid-by-cosine assignment as ONE Arrow kernel:
    normalize the batch, one BLAS matmul against the (pre-normalized)
    centroid matrix, row-wise argmax (numpy argmax keeps the FIRST
    maximum — the same lowest-index tie-break as the Column-expression
    argmax). ``round_dp`` rounds similarities before the argmax, for
    callers whose oracle replays a rounded comparison.

    Output = input columns + ``out_col`` int. This is the carrier that
    survives 100 TB: at √n centroids the similarity pass is a dense
    (batch × dim) @ (dim × n_centroids) product per Arrow batch —
    microseconds where interpreted array HOFs take seconds — and the
    centroid matrix ships once per executor in the task closure.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    if not centroids:  # empty corpus sample: nothing to assign to
        return src.withColumn(out_col, F.lit(None).cast("int"))
    C = np.asarray(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    schema = StructType(src.schema.fields + [StructField(out_col, IntegerType())])

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf):
                V = np.stack(pdf[vec_col].to_numpy())
                Vn = V / np.maximum(
                    np.linalg.norm(V, axis=1, keepdims=True), 1e-300
                )
                sims = Vn @ Cn.T
                if round_dp is not None:
                    sims = np.round(sims, round_dp)
                pdf[out_col] = np.argmax(sims, axis=1).astype("int32")
            else:
                pdf[out_col] = np.array([], dtype="int32")
            yield pdf

    return src.mapInPandas(op, schema=schema)


def srp_buckets_kernel(
    src: DataFrame,
    tables: list[list[list[float]]],
    *,
    vec_col: str,
    drop_vec: bool = False,
) -> DataFrame:
    """All SRP tables' buckets in ONE Arrow kernel, exploded to
    ``(input columns [minus vec if drop_vec], t int, bkt long)`` —
    the vectorized twin of ``posexplode(array(srp_bucket(...)))``:
    one matmul computes every sign bit, MSB-first packing matches
    :func:`srp_bucket` / :func:`_py_bucket` exactly.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    n_tables = len(tables)
    n_bits = len(tables[0]) if tables else 0
    P = np.asarray(
        [plane for table in tables for plane in table], dtype=np.float64
    )  # (n_tables*n_bits, dim)
    weights = (2 ** np.arange(n_bits - 1, -1, -1)).astype(np.int64)

    keep = [f for f in src.schema.fields if not (drop_vec and f.name == vec_col)]
    schema = StructType(
        keep + [StructField("t", IntegerType()), StructField("bkt", LongType())]
    )
    keep_names = [f.name for f in keep]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                yield pd.DataFrame(columns=keep_names + ["t", "bkt"])
                continue
            V = np.stack(pdf[vec_col].to_numpy())
            bits = (V @ P.T >= 0).reshape(n, n_tables, n_bits)
            bkts = bits @ weights  # (n, n_tables) int64
            out = pdf[keep_names].loc[
                np.repeat(pdf.index, n_tables)
            ].reset_index(drop=True)
            out["t"] = np.tile(
                np.arange(n_tables, dtype="int32"), n
            )
            out["bkt"] = bkts.reshape(-1)
            yield out

    return src.mapInPandas(op, schema=schema)


def _assign_centroid(v: Column, cent_lit: Column) -> Column:
    """Nearest-centroid index by cosine, lowest-index tie-break.

    argmax via array_max over (sim, -idx) structs: each centroid's
    cosine is evaluated ONCE inside the transform (a when/otherwise
    fold would evaluate it twice — condition + selected value).
    """
    best = F.array_max(
        F.transform(
            cent_lit,
            lambda c: F.struct(
                cosine_sim(v, c["cv"]).alias("sim"), (-c["idx"]).alias("nidx")
            ),
        )
    )
    return -best["nidx"]


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
    from the corpus itself (rows minimizing xxhash64(id, seed) — a
    seeded uniform sample with no RNG state). Every vector is assigned
    to its nearest centroid by cosine; a query probes the ``n_probe``
    centroids nearest to IT and exact-cosine re-ranks only vectors
    assigned there.

    Scale: the centroid table is tiny and rides into the executors as
    expression literals (broadcast-equivalent, no shuffle). At 100 TB
    the assignment is precomputed once and the corpus PERSISTED
    partitioned by ``centroid_id`` so a query's scan is partition-pruned
    to n_probe/n_centroids of the data; here the assignment is computed
    inline in the same scan. Assignment cost is O(n_centroids·dim) per
    row of JVM codegen arithmetic, shuffle-free.
    """
    centroids = _sample_centroids(emb, id_col, vec_col, n_centroids, seed)

    def _py_cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    probe = sorted(
        range(len(centroids)),
        key=lambda c: (-_py_cos(query_vec, centroids[c]), c),
    )[:n_probe]

    v = F.col(vec_col).cast("array<double>")
    cent_lit = _centroid_lit(centroids)
    assigned = _assign_centroid(v, cent_lit)

    cand = emb.withColumn("centroid_id", assigned).where(
        F.col("centroid_id").isin(*probe)
    )
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        id_col,
        F.round(cosine_sim(v, qcol), 4).alias("cos_sim"),
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
    carrier: str = "auto",
) -> DataFrame:
    """Batch IVF retrieval: top-k corpus neighbors for EVERY row of a
    query DataFrame, in one distributed plan — the multi-query layout
    the single-query :func:`ivf_topk` docstring promises at 100 TB,
    with no per-query driver loop.

    Shape:

    1. coarse quantizer = the same deterministic corpus sample as
       ``ivf_topk`` (tiny, inlined as literals);
    2. corpus rows assign to their nearest centroid (pure codegen
       arithmetic, shuffle-free);
    3. each QUERY row computes its ``n_probe`` nearest centroids as an
       array Column (sorted (−sim, idx) structs — same ordering as the
       single-query driver-side probe) and explodes to
       ``(query_id, centroid)`` probe rows;
    4. probes equi-join the assigned corpus on the centroid id —
       candidate volume per query is the occupancy of its probed
       cells, never |corpus|;
    5. exact cosine re-rank per query via a per-key window (millions
       of small ``query_id`` partitions — the scalable direction; no
       global sort).

    At 100 TB the assigned corpus is PERSISTED partitioned by
    ``centroid_id`` (write once), making step 4 a partition-pruned
    scan; here assignment runs inline in the same job.

    ``carrier`` picks how the centroid set reaches the executors
    (see :func:`_resolve_carrier`): expression ``literal``, broadcast
    one-row ``table`` (same Column arithmetic, KB-scale plan), or the
    Arrow+BLAS ``kernel`` (the form that holds at √n centroids).
    Every carrier computes the IDENTICAL argmax/probe decisions —
    argmax ties break to the lowest centroid index in all three.

    Output: ``(query_id, id, cos_sim, rank)`` with rank 1..k/query.
    """
    centroids = _sample_centroids(emb, id_col, vec_col, n_centroids, seed)
    dim = len(centroids[0]) if centroids else 0
    mode = _resolve_carrier(n_centroids * dim, carrier)

    v = F.col(vec_col).cast("array<double>")
    qv = F.col(query_vec_col).cast("array<double>")
    if mode == "kernel":
        import numpy as np
        import pandas as pd
        from pyspark.sql.types import IntegerType, StructField, StructType

        corpus = assign_centroids_kernel(
            emb.select(id_col, v.alias("__v")), centroids, vec_col="__v"
        )

        C = np.asarray(centroids, dtype=np.float64)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        q_src = queries.select(query_id_col, qv.alias("__qv"))
        q_schema = StructType(
            q_src.schema.fields + [StructField("__centroid", IntegerType())]
        )

        def probe_op(batches):
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    yield pd.DataFrame(
                        columns=[query_id_col, "__qv", "__centroid"]
                    )
                    continue
                V = np.stack(pdf["__qv"].to_numpy())
                Vn = V / np.maximum(
                    np.linalg.norm(V, axis=1, keepdims=True), 1e-300
                )
                # stable argsort of -sim == descending sim with the
                # lowest-index tie-break of the Column-expression path
                order = np.argsort(-(Vn @ Cn.T), axis=1, kind="stable")[
                    :, :n_probe
                ]
                out = pdf.loc[np.repeat(pdf.index, n_probe)].reset_index(
                    drop=True
                )
                out["__centroid"] = order.reshape(-1).astype("int32")
                yield out

        qp = q_src.mapInPandas(probe_op, schema=q_schema)
    else:
        if mode == "table":
            cents_df = F.broadcast(_centroid_frame(emb.sparkSession, centroids))
            cent_src = emb.crossJoin(cents_df)
            query_src = queries.crossJoin(cents_df)
            cent_arr = F.col("__cents")
        else:
            cent_src, query_src = emb, queries
            cent_arr = _centroid_lit(centroids)

        corpus = cent_src.select(
            id_col,
            v.alias("__v"),
            _assign_centroid(v, cent_arr).alias("__centroid"),
        )

        # per-query probe list: ascending sort on (−sim, idx) structs
        # == descending sim with lowest-index tie-break, keep n_probe
        probe_arr = F.slice(
            F.array_sort(
                F.transform(
                    cent_arr,
                    lambda c: F.struct(
                        (-cosine_sim(qv, c["cv"])).alias("nsim"),
                        c["idx"].alias("idx"),
                    ),
                )
            ),
            1,
            n_probe,
        )
        qp = query_src.select(
            query_id_col,
            qv.alias("__qv"),
            F.explode(F.transform(probe_arr, lambda p: p["idx"])).alias(
                "__centroid"
            ),
        )

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
