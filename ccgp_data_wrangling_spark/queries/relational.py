"""Relational operator queries (SURVEY.md §2.1-§2.8) on the TPC-H-ish tables.

Each query exercises one or more inventory operators (S1, F1-F9,
J3-J9, A1-A9, W1-W2, R1, X7/X12/X14, R4-R6) as an idiomatic Spark
DataFrame plan with a DuckDB oracle. Scale notes per query explain why
the plan survives a 1000-executor / 100 TB setting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.catalog import load_table
from ccgp_data_wrangling_spark.queries import register

# ---------------------------------------------------------------------------
# S1 + A-class: scan → filter → wide aggregation (TPC-H Q1 shape).
# Reference parity: projection/filter pushdown the reference does via Mongo
# find(query, projection) (create_sheets_ultimate.py:277); aggregation shape
# of the depth/summary reports (utils/parse.py:294-340).
# Scale: filter + both group keys are low-cardinality → partial (map-side)
# aggregation collapses each scan partition to ≤6 rows before the shuffle;
# no skew possible. Only l_* columns in ReadSchema.
# ---------------------------------------------------------------------------

_Q1_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  ROUND(SUM(l_quantity), 2)                                        AS sum_qty,
  ROUND(SUM(l_extendedprice), 2)                                   AS sum_base_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
  ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
  ROUND(AVG(l_quantity), 4)                                        AS avg_qty,
  ROUND(AVG(l_extendedprice), 4)                                   AS avg_price,
  ROUND(AVG(l_discount), 4)                                        AS avg_disc,
  COUNT(*)                                                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", _Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# J3/J4-class equi joins + top-k (TPC-H Q3 shape).
# Reference parity: equi joins on file_name / sample_name
# (update_readlength_mongo.py:14-26, update_metadata.py:139-151) plus
# "best rows" ranking. Top-k is rank-based (set semantics), not
# LIMIT-after-sort, so the result is deterministic and the heavy sort is a
# single reduction over ≤k·partitions candidates.
# Scale: customer filter prunes before the join; orders⋈lineitem shuffles
# on orderkey (AQE handles skew); customer side is broadcastable.
# ---------------------------------------------------------------------------

_Q3_SQL = """
WITH rev AS (
  SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
    AND l.l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
  GROUP BY 1, 2, 3
)
SELECT o_orderkey, o_orderdate, o_orderpriority, revenue
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, o_orderkey) AS rn
  FROM rev
) WHERE rn <= 10
"""


@register("q3_top_orders", _Q3_SQL)
def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp")
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    # TakeOrderedAndProject (distributed local top-k + driver merge),
    # not a single-partition global row_number window
    return rev.orderBy(F.desc("revenue"), F.asc("o_orderkey")).limit(10)


# ---------------------------------------------------------------------------
# J5/J9-class multi-way join + agg (TPC-H Q5 shape): 6-table join through
# the dimension chain with small-side broadcasts.
# Scale: region/nation/supplier are tiny → broadcast; the only shuffles are
# orders⋈lineitem on orderkey and the final 25-group agg (map-side combined).
# ---------------------------------------------------------------------------

_Q5_SQL = """
SELECT n.n_name AS nation,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1
"""


@register("q5_regional_revenue", _Q5_SQL)
def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


# ---------------------------------------------------------------------------
# A1-class summary report (project dashboard, utils/parse.py:294-340):
# per-group count(*), conditional counts, sum, percent-done, and a
# DETERMINISTIC mode (reference uses pd.Series.mode; we pin tie-break to
# lexicographic min so the oracle agrees — SURVEY.md §7.4 note 6).
# Scale: two-phase agg (custkey → priority) keeps both shuffles on keys
# with bounded cardinality; deterministic mode is a tiny second agg.
# ---------------------------------------------------------------------------

_A1_SQL = """
WITH per_cust AS (
  SELECT c.c_custkey,
         c.c_mktsegment,
         COUNT(o.o_orderkey)                            AS n_orders,
         COALESCE(SUM(o.o_totalprice), 0.0)             AS spend
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
seg AS (
  SELECT c_mktsegment,
         COUNT(*)                                       AS n_customers,
         CAST(SUM(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
         ROUND(SUM(spend), 2)                           AS total_spend,
         ROUND(100.0 * SUM(CASE WHEN n_orders > 0 THEN 1 ELSE 0 END) / COUNT(*), 2) AS pct_active
  FROM per_cust GROUP BY 1
),
status_counts AS (
  SELECT c.c_mktsegment, o.o_orderstatus, COUNT(*) AS n
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
),
modal AS (
  SELECT c_mktsegment, o_orderstatus AS modal_status
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                 ORDER BY n DESC, o_orderstatus) AS rn
    FROM status_counts
  ) WHERE rn = 1
)
SELECT seg.c_mktsegment AS segment, n_customers, n_active, total_spend,
       pct_active, modal_status
FROM seg JOIN modal USING (c_mktsegment)
"""


@register("a1_segment_summary", _A1_SQL)
def a1_segment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum("o_totalprice"), F.lit(0.0)).alias("spend"),
        )
    )
    seg = per_cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("n_orders") > 0, 1).otherwise(0)).cast("long").alias("n_active"),
        F.round(F.sum("spend"), 2).alias("total_spend"),
        F.round(
            100.0 * F.sum(F.when(F.col("n_orders") > 0, 1).otherwise(0)) / F.count(F.lit(1)), 2
        ).alias("pct_active"),
    )
    status_counts = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(F.desc("n"), F.asc("o_orderstatus"))
    modal = (
        status_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("c_mktsegment", F.col("o_orderstatus").alias("modal_status"))
    )
    return seg.join(modal, "c_mktsegment").withColumnRenamed("c_mktsegment", "segment")


# ---------------------------------------------------------------------------
# J6 anti-join (set difference): customers with no orders.
# Reference parity: drive-files-not-parsed / mongo-files-missing-from-S3
# (update_metadata.py:27-44, check_if_mongo_files_in_aws.py:49-63).
# Scale: left_anti shuffles both sides on the key once; no data explosion.
# ---------------------------------------------------------------------------

_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '2000-07-01 00:00:00'
)
"""


@register("j6_customers_without_orders", _ANTI_SQL)
def j6_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-07-01 00:00:00").cast("timestamp")
    )
    return cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ---------------------------------------------------------------------------
# F4 semi-join + membership filter: customers having an urgent open order.
# Reference parity: $in membership filters (update_projectID_reads_col.py:38-40).
# ---------------------------------------------------------------------------

_SEMI_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND o.o_orderstatus = 'O'
)
"""


@register("f4_urgent_customers", _SEMI_SQL)
def f4_urgent_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & (F.col("o_orderstatus") == "O")
    )
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# J7 lookup-join-with-fallback (utils/parse.py:108-142): exact key else
# coarser key else literal default, plus a match flag. Re-expressed over
# documents.lang with two inline dimensions.
# Scale: both dimensions are broadcast; zero shuffles beyond the final agg.
# ---------------------------------------------------------------------------

_J7_SQL = """
WITH exact_dim AS (
  SELECT * FROM (VALUES ('en', 'English'), ('fr', 'French')) AS t(code, family)
),
fallback_dim AS (
  SELECT * FROM (VALUES ('de', 'Germanic'), ('es', 'Romance'), ('fr', 'Romance')) AS t(code, family)
),
resolved AS (
  SELECT d.doc_id,
         COALESCE(e.family, f.family, 'Unknown family') AS family,
         CASE WHEN e.family IS NOT NULL THEN 1 ELSE 0 END AS exact_match
  FROM documents d
  LEFT JOIN exact_dim e ON d.lang = e.code
  LEFT JOIN fallback_dim f ON d.lang = f.code
)
SELECT family, COUNT(*) AS n_docs, CAST(SUM(exact_match) AS BIGINT) AS n_exact
FROM resolved GROUP BY 1
"""


@register("j7_lang_family_lookup", _J7_SQL)
def j7_lang_family_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    exact_dim = spark.createDataFrame([("en", "English"), ("fr", "French")], ["code", "family"])
    fallback_dim = spark.createDataFrame(
        [("de", "Germanic"), ("es", "Romance"), ("fr", "Romance")], ["code", "family"]
    )
    e = F.broadcast(exact_dim).alias("e")
    f = F.broadcast(fallback_dim).alias("f")
    resolved = (
        docs.alias("d")
        .join(e, F.col("d.lang") == F.col("e.code"), "left")
        .join(f, F.col("d.lang") == F.col("f.code"), "left")
        .select(
            F.col("d.doc_id"),
            F.coalesce(F.col("e.family"), F.col("f.family"), F.lit("Unknown family")).alias(
                "family"
            ),
            F.when(F.col("e.family").isNotNull(), 1).otherwise(0).alias("exact_match"),
        )
    )
    return resolved.groupBy("family").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("exact_match").cast("long").alias("n_exact"),
    )


# ---------------------------------------------------------------------------
# W2 best-per-group rank (update_reads.py:340-359 conflict resolution
# shape): top order per customer by value, deterministic tie-break.
# ---------------------------------------------------------------------------

_W2_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


@register("w2_top_order_per_customer", _W2_SQL)
def w2_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# A2/W1 lane-yield analog (workflows/summary_lane.py:4-17): per-group sum,
# conditional sum, percent, and windowed within-group proportion.
# ---------------------------------------------------------------------------

_A2_SQL = """
WITH flag_status AS (
  SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS qty
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus,
       ROUND(qty, 2) AS qty,
       ROUND(100.0 * qty / SUM(qty) OVER (PARTITION BY l_returnflag), 4) AS pct_of_flag
FROM flag_status
"""


@register("a2_flag_share", _A2_SQL)
def a2_flag_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    flag_status = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("qty")
    )
    w = W.partitionBy("l_returnflag")
    return flag_status.select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("qty"), 2).alias("qty"),
        F.round(100.0 * F.col("qty") / F.sum("qty").over(w), 4).alias("pct_of_flag"),
    )


# ---------------------------------------------------------------------------
# R1 adjacent-pair explode (create_sheets_ultimate.py:387-423 read-pair
# expansion): per order, sort lines, pair adjacent, one row per pair with
# a nullable second element for odd counts.
# Spark side uses the array primitive the real operator uses
# (collect_list → array_sort → transform(sequence(...)) → explode) rather
# than a window trick, because that is the shape that reuses the `files`
# array already stored on `samples` at production scale (no re-shuffle).
# ---------------------------------------------------------------------------

_R1_SQL = """
WITH s AS (
  SELECT l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
  FROM lineitem
)
SELECT l_orderkey,
       CAST((rn - 1) // 2 AS INT)                              AS pair_idx,
       MAX(CASE WHEN rn % 2 = 1 THEN l_linenumber END)         AS first_ln,
       MAX(CASE WHEN rn % 2 = 0 THEN l_linenumber END)         AS second_ln
FROM s GROUP BY 1, 2
"""


@register("r1_adjacent_pairs", _R1_SQL)
def r1_adjacent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    grouped = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list("l_linenumber")).alias("lines")
    )
    # try_element_at: 1-based, null past the end (ANSI-safe odd counts)
    pairs = grouped.select(
        "l_orderkey",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.floor((F.size("lines") - 1) / 2).cast("int")),
                lambda i: F.struct(
                    F.try_element_at(F.col("lines"), i * 2 + 1).alias("first_ln"),
                    F.try_element_at(F.col("lines"), i * 2 + 2).alias("second_ln"),
                ),
            )
        ).alias("pair_idx", "pair"),
    )
    return pairs.select(
        "l_orderkey",
        F.col("pair_idx").cast("int").alias("pair_idx"),
        F.col("pair.first_ln").alias("first_ln"),
        F.col("pair.second_ln").alias("second_ln"),
    )


# ---------------------------------------------------------------------------
# X12/J2 fuzzy best-match (update_reads.py:166-181 solve_conflict):
# Levenshtein-ratio argmax with deterministic tie-break. Small dimension ×
# dimension here; the large-scale variant is operators/linkage.py which
# avoids the cartesian entirely.
# ---------------------------------------------------------------------------

_X12_SQL = """
WITH scored AS (
  SELECT s.s_name, c.c_name,
         ROUND(100.0 * (LENGTH(s.s_name) + LENGTH(c.c_name)
                        - LEVENSHTEIN(s.s_name, c.c_name))
               / (LENGTH(s.s_name) + LENGTH(c.c_name)), 3) AS ratio
  FROM supplier s CROSS JOIN customer c
)
SELECT s_name, c_name AS best_customer, ratio
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY s_name ORDER BY ratio DESC, c_name) AS rn
  FROM scored
) WHERE rn = 1
"""


@register("x12_fuzzy_best_match", _X12_SQL)
def x12_fuzzy_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One bit-parallel Levenshtein kernel (operators/fuzzy.py): the
    # customer names ride into it, the supplier names stream through
    # it, and every pair's exact distance is computed there, so the
    # plan has no pair join. These names are fixed-width 18-char
    # zero-padded ids, on which no generic exact blocking prunes a pair
    # (q-grams and PassJoin segments collapse on '000…'); the kernel
    # does not need any. Repartition the streamed side: the kernel
    # otherwise inherits the small table's single input partition.
    from ccgp_data_wrangling_spark.operators.fuzzy import fuzzy_argmax_join

    par = spark.sparkContext.defaultParallelism
    supp = load_table(spark, sf_dir, "supplier").select("s_name").repartition(par)
    cust = load_table(spark, sf_dir, "customer").select("c_name")
    return fuzzy_argmax_join(supp, cust, "s_name", "c_name").select(
        "s_name",
        F.col("c_name").alias("best_customer"),
        "ratio",
    )


# ---------------------------------------------------------------------------
# X12 on a variable-length corpus: the same best-fuzzy-match operator
# on part labels. Left = "name type" labels, right = the word-swapped
# "type name" forms (the classic field-order-variant matching case) —
# disjoint by construction at every SF (types are uppercase, names
# lowercase), so every best match is a true fuzzy neighbor. Verified
# against the all-pairs oracle.
# ---------------------------------------------------------------------------

_X12B_SQL = """
WITH l AS (
  SELECT DISTINCT p_name || ' ' || p_type AS left_label FROM part
),
r AS (
  SELECT DISTINCT p_type || ' ' || p_name AS right_label FROM part
),
scored AS (
  SELECT l.left_label, r.right_label,
         ROUND(100.0 * (LENGTH(l.left_label) + LENGTH(r.right_label)
                        - LEVENSHTEIN(l.left_label, r.right_label))
               / (LENGTH(l.left_label) + LENGTH(r.right_label)), 3) AS ratio
  FROM l CROSS JOIN r
)
SELECT left_label, right_label AS best_label, ratio
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY left_label
                               ORDER BY ratio DESC, right_label) AS rn
  FROM scored
) WHERE rn = 1
"""


@register("x12b_blocked_fuzzy_match", _X12B_SQL)
def x12b_blocked_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.fuzzy import fuzzy_argmax_join

    part = load_table(spark, sf_dir, "part")
    left = part.select(
        F.concat_ws(" ", "p_name", "p_type").alias("left_label")
    ).distinct()
    right = part.select(F.concat_ws(" ", "p_type", "p_name").alias("best_label"))
    return fuzzy_argmax_join(left, right, "left_label", "best_label")


# ---------------------------------------------------------------------------
# X7/X14/X15 derived-string functions (create_sheets_ultimate.py:331-332,
# batch_extract.py:4-9): substring_index, concat_ws, upper, regexp_extract.
# ---------------------------------------------------------------------------

_X7_SQL = """
SELECT p_partkey,
       SPLIT_PART(p_name, ' ', 1)                                   AS first_word,
       UPPER(CONCAT(SPLIT_PART(p_name, ' ', 1), '_', p_type))       AS label,
       CAST(REGEXP_EXTRACT(p_brand, 'Brand#(\\d+)', 1) AS INT)      AS brand_num,
       CONCAT(p_brand, ':', CAST(p_size AS VARCHAR))                AS brand_size
FROM part
"""


@register("x7_part_labels", _X7_SQL)
def x7_part_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    first_word = F.substring_index("p_name", " ", 1)
    return part.select(
        "p_partkey",
        first_word.alias("first_word"),
        F.upper(F.concat(first_word, F.lit("_"), F.col("p_type"))).alias("label"),
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("int").alias("brand_num"),
        F.concat_ws(":", "p_brand", F.col("p_size").cast("string")).alias("brand_size"),
    )


# ---------------------------------------------------------------------------
# R4/R6 distinct + set ops: distinct (brand, type) pairs present in ASIA
# minus those present in EUROPE (exceptAll→except distinct semantics).
# Reference parity: drop_duplicates (create_sheets.py:113) and set
# differences (update_projectID_reads_col.py:56).
# ---------------------------------------------------------------------------

_R6_SQL = """
WITH sold AS (
  SELECT DISTINCT p.p_brand, p.p_type, DATE_TRUNC('month', l.l_shipdate) AS ship_month
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1995-03-01 00:00:00'
)
SELECT p_brand, p_type FROM sold WHERE ship_month = TIMESTAMP '1995-01-01 00:00:00'
EXCEPT
SELECT p_brand, p_type FROM sold WHERE ship_month = TIMESTAMP '1995-02-01 00:00:00'
"""


@register("r6_jan_only_products", _R6_SQL)
def r6_jan_only_products(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-03-01 00:00:00").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    sold = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("p_brand", "p_type", F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .distinct()
    )
    jan = sold.where(F.col("ship_month") == F.lit("1995-01-01 00:00:00").cast("timestamp")).select(
        "p_brand", "p_type"
    )
    feb = sold.where(F.col("ship_month") == F.lit("1995-02-01 00:00:00").cast("timestamp")).select(
        "p_brand", "p_type"
    )
    return jan.subtract(feb)


# ---------------------------------------------------------------------------
# Skew-safe two-phase aggregation (operators/skew.py): l_returnflag is a
# 3-value key — the degenerate heavy-hitter shape — so the salted
# pre-aggregate spreads each key over 16 partials before the final
# combine. Result must equal the plain GROUP BY.
# ---------------------------------------------------------------------------

_SKEW_SQL = """
SELECT l_returnflag,
       COUNT(*)                            AS n_rows,
       CAST(SUM(l_quantity) AS BIGINT)     AS sum_qty,
       MAX(l_extendedprice)                AS max_price
FROM lineitem
GROUP BY l_returnflag
"""


@register("skew_salted_agg", _SKEW_SQL)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.skew import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    return salted_aggregate(
        li,
        ["l_returnflag"],
        {
            "n_rows": F.count(F.lit(1)),
            "sum_qty": F.sum("l_quantity"),
            "max_price": F.max("l_extendedprice"),
        },
        {
            "n_rows": F.sum("n_rows"),
            "sum_qty": F.sum("sum_qty").cast("long"),
            "max_price": F.max("max_price"),
        },
    )


# ---------------------------------------------------------------------------
# Semi-join EXISTS (TPC-H Q4 shape): orders with at least one returned
# line, counted per priority bucket.
# ---------------------------------------------------------------------------

_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
)
GROUP BY o_orderpriority
"""


@register("q4_exists_semi_join", _Q4_SQL)
def q4_exists_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.where(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q10 shape: top customers by returned-revenue, 4-way join +
# agg + rank. Revenue rounded identically on both sides before ranking
# so the top-20 cut is deterministic.
# ---------------------------------------------------------------------------

_Q10_SQL = """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name,
         ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
  FROM customer c
  JOIN orders o   ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  WHERE l.l_returnflag = 'R'
  GROUP BY 1, 2, 3
)
SELECT c_custkey, c_name, n_name, revenue
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY revenue DESC, c_custkey) AS rn
  FROM rev
) WHERE rn <= 20
"""


@register("q10_returned_revenue", _Q10_SQL)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )
    # orderBy+limit compiles to TakeOrderedAndProject: each partition
    # keeps its local top-20, the driver merges — no single-partition
    # global window (WindowExec would move every customer to one task).
    return (
        rev.orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


# ---------------------------------------------------------------------------
# ROLLUP hierarchy profile (SURVEY §2.5 notes the reference has no
# grouping sets — the engine exposes Spark's rollup/cube built-ins;
# GROUPING() distinguishes subtotal rows from real values).
# ---------------------------------------------------------------------------

_ROLLUP_SQL = """
SELECT CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
            ELSE o_orderstatus END                        AS status,
       CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
            ELSE o_orderpriority END                      AS priority,
       COUNT(*)                                           AS n_orders,
       ROUND(SUM(o_totalprice), 2)                        AS total_price
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


@register("rollup_order_profile", _ROLLUP_SQL)
def rollup_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.grouping("o_orderstatus").alias("g_status"),
        F.grouping("o_orderpriority").alias("g_priority"),
    )
    return agg.select(
        F.when(F.col("g_status") == 1, "ALL")
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
        F.when(F.col("g_priority") == 1, "ALL")
        .otherwise(F.col("o_orderpriority"))
        .alias("priority"),
        "n_orders",
        "total_price",
    )


# ---------------------------------------------------------------------------
# Range join (operators/rangejoin.py): customers whose balance falls in a
# +/-50 band around each supplier's balance. Spark would plan the raw
# BETWEEN condition as a nested-loop cross product; the operator buckets
# the number line and equi-joins. The DuckDB oracle runs the plain
# inequality join (its IEJoin handles it at this scale).
# ---------------------------------------------------------------------------

_RANGE_SQL = """
SELECT s.s_suppkey, c.c_custkey,
       ROUND(c.c_acctbal - s.s_acctbal, 2) AS bal_diff
FROM supplier s
JOIN customer c
  ON c.c_acctbal >= s.s_acctbal - 50 AND c.c_acctbal <= s.s_acctbal + 50
"""


@register("range_balance_band", _RANGE_SQL)
def range_balance_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.rangejoin import range_join

    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - 50).alias("lo"),
        (F.col("s_acctbal") + 50).alias("hi"),
        "s_acctbal",
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    out = range_join(
        cust, supp, "c_acctbal", "lo", "hi", bucket_width=100.0
    )
    return out.select(
        "s_suppkey",
        "c_custkey",
        F.round(F.col("c_acctbal") - F.col("s_acctbal"), 2).alias("bal_diff"),
    )


# ---------------------------------------------------------------------------
# Column profiling (operators/profile.py): one-pass per-column QC stats.
# The oracle is a UNION ALL of per-column aggregates.
# ---------------------------------------------------------------------------

_PROFILE_SQL = """
SELECT 'o_orderstatus' AS column, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct,
       CAST(MIN(o_orderstatus) AS VARCHAR) AS min_value,
       CAST(MAX(o_orderstatus) AS VARCHAR) AS max_value
FROM orders
UNION ALL
SELECT 'o_orderpriority', COUNT(*),
       CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
       CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
FROM orders
UNION ALL
SELECT 'o_custkey', COUNT(*),
       CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM orders
"""


@register("profile_orders", _PROFILE_SQL)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.profile import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(
        orders, ["o_orderstatus", "o_orderpriority", "o_custkey"]
    )


# ---------------------------------------------------------------------------
# Exact percentile aggregation (order statistics): median and p95 per
# return flag. Spark's percentile and DuckDB's quantile_cont both use
# linear interpolation, so exact results hash-match. At 100 TB swap in
# approx_percentile (t-digest) — same call shape, mergeable sketches.
# ---------------------------------------------------------------------------

_PCTL_SQL = """
SELECT l_returnflag,
       QUANTILE_CONT(l_extendedprice, 0.5)  AS p50_price,
       QUANTILE_CONT(l_extendedprice, 0.95) AS p95_price,
       QUANTILE_CONT(l_quantity, 0.5)       AS p50_qty
FROM lineitem
GROUP BY l_returnflag
"""


@register("percentiles_by_flag", _PCTL_SQL)
def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # no ROUND: median of 2-decimal prices sits exactly on .xx5, where a
    # 1-ulp interpolation difference between engines flips round(.., 2)
    # either way; the driver's %.6f canonicalization absorbs ulp noise
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("p50_price"),
        F.percentile("l_extendedprice", F.lit(0.95)).alias("p95_price"),
        F.percentile("l_quantity", F.lit(0.5)).alias("p50_qty"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q6: the canonical pushdown probe — every predicate must reach
# the parquet scan (PushedFilters), the agg is a single map-side
# partial. Reference parity: the reference's pandas boolean-mask
# filters (utils/ summary helpers) are this, minus the pushdown.
# ---------------------------------------------------------------------------

_Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 3) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01'
  AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.08
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", _Q6_SQL)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("date"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")), 3
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Data-contract expectations over orders: every rule folds into ONE
# aggregate pass (operators/profile.check_expectations). The oracle
# computes the same conditional sums; null predicate results count
# as violations on both sides.
# ---------------------------------------------------------------------------

_EXPECT_SQL = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_price_positive,
         CAST(SUM(CASE WHEN NOT COALESCE(o_orderdate BETWEEN TIMESTAMP '1992-01-01 00:00:00'
                                          AND TIMESTAMP '1998-12-31 23:59:59', FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_date_in_range,
         CAST(SUM(CASE WHEN NOT COALESCE(o_orderpriority IN
                       ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'), FALSE)
                  THEN 1 ELSE 0 END) AS BIGINT) AS v_priority_domain,
         CAST(SUM(CASE WHEN NOT COALESCE(o_custkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_custkey_present,
         CAST(SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_status_domain
  FROM orders
)
SELECT r.rule, a.n_rows, r.n_violations,
       ROUND(CAST(r.n_violations AS DOUBLE) / GREATEST(a.n_rows, 1), 6) AS violation_rate,
       r.n_violations = 0 AS passed
FROM agg a, (
  SELECT 'price_positive' AS rule, v_price_positive AS n_violations FROM agg
  UNION ALL SELECT 'date_in_range', v_date_in_range FROM agg
  UNION ALL SELECT 'priority_domain', v_priority_domain FROM agg
  UNION ALL SELECT 'custkey_present', v_custkey_present FROM agg
  UNION ALL SELECT 'status_domain', v_status_domain FROM agg
) r
"""


@register("data_expectations_orders", _EXPECT_SQL)
def data_expectations_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-gate contract checks on orders — five rules, one pass."""
    from ccgp_data_wrangling_spark.operators.profile import (
        check_expectations,
    )

    orders = load_table(spark, sf_dir, "orders")
    rules = [
        ("price_positive", F.col("o_totalprice") > 0),
        (
            "date_in_range",
            F.col("o_orderdate").between(
                "1992-01-01 00:00:00", "1998-12-31 23:59:59"
            ),
        ),
        (
            "priority_domain",
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
        ("custkey_present", F.col("o_custkey").isNotNull()),
        ("status_domain", F.col("o_orderstatus").isin("O", "F", "P")),
    ]
    return check_expectations(orders, rules)


# ---------------------------------------------------------------------------
# Window-function breadth: rank / dense_rank / percent_rank /
# cume_dist / lag in ONE window pass over per-customer order history.
# All five share a single (customer, orderdate, orderkey) window, so
# the plan sorts each partition once.
# ---------------------------------------------------------------------------

_WINSUITE_SQL = """
SELECT o_orderkey,
       o_custkey,
       CAST(RANK() OVER w AS INT) AS rnk,
       CAST(DENSE_RANK() OVER w AS INT) AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       ROUND(CUME_DIST() OVER w, 6) AS cdist,
       ROUND(o_totalprice - LAG(o_totalprice, 1, 0.0) OVER w, 2) AS price_delta
FROM orders
WHERE o_custkey % 10 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


@register("window_suite_orders", _WINSUITE_SQL)
def window_suite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Five ranking/distribution window functions in one per-customer
    pass. One sort per partition (all functions share the window
    spec); partitions are customer-sized — the scalable direction, no
    global window anywhere.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey") % 10 == 0
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(w), 2
        ).alias("price_delta"),
    )


# ---------------------------------------------------------------------------
# Market basket: part pairs co-purchased in the same order, with
# support and lift. The pair join is a self-join on orderkey —
# bounded by order size (≈4 lines), never all-parts × all-parts.
# ---------------------------------------------------------------------------

_BASKET_SQL = """
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem),
part_orders AS (
  SELECT l_partkey, COUNT(*) AS n_part FROM items GROUP BY 1
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT p.part_a, p.part_b, CAST(p.support AS BIGINT) AS support,
       ROUND(CAST(p.support AS DOUBLE) * n.n / (pa.n_part * pb.n_part), 4) AS lift
FROM pairs p
JOIN part_orders pa ON pa.l_partkey = p.part_a
JOIN part_orders pb ON pb.l_partkey = p.part_b
CROSS JOIN n_orders n
WHERE p.support >= 3
"""


@register("market_basket_pairs", _BASKET_SQL)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchased part pairs (support ≥ 3) with lift.

    The pair generator is a same-order self-join — Σ order_size²
    pairs (orders average ~4 lines), shuffled on orderkey; per-part
    marginals broadcast. At 100 TB the support filter belongs BEFORE
    the marginal joins (done here): only surviving pairs pay the
    dimension lookups.
    """
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates()
    )
    n_orders = items.select("l_orderkey").distinct().count()
    part_orders = items.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_part")
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= 3)
    )
    pa = part_orders.withColumnRenamed("pk", "part_a").withColumnRenamed(
        "n_part", "n_a"
    )
    pb = part_orders.withColumnRenamed("pk", "part_b").withColumnRenamed(
        "n_part", "n_b"
    )
    return (
        pairs.join(F.broadcast(pa), "part_a")
        .join(F.broadcast(pb), "part_b")
        .select(
            "part_a",
            "part_b",
            "support",
            F.round(
                F.col("support").cast("double")
                * n_orders
                / (F.col("n_a") * F.col("n_b")),
                4,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Salted skew join: a deliberately skewed fact (every lineitem of
# the hottest-selling part mapped to one key) joined to a dim
# through operators/skew.salted_join. Salting is an EXECUTION
# strategy — results must equal the plain join, which is exactly
# what the oracle states.
# ---------------------------------------------------------------------------

_SALTJOIN_SQL = """
WITH fact AS (
  SELECT CASE WHEN l_partkey % 10 = 0 THEN 0 ELSE l_partkey END AS k,
         l_extendedprice
  FROM lineitem
),
dim AS (
  SELECT DISTINCT CASE WHEN p_partkey % 10 = 0 THEN 0 ELSE p_partkey END AS k,
         MIN(p_brand) AS brand
  FROM part GROUP BY 1
)
SELECT d.brand, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(f.l_extendedprice), 2) AS revenue
FROM fact f JOIN dim d ON d.k = f.k
GROUP BY 1
"""


@register("skew_salted_join_revenue", _SALTJOIN_SQL)
def skew_salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by brand through a salted join on a hot-key fact.

    10% of part keys collapse onto key 0 (a planted hot key holding
    ~10% of all lineitems); salted_join spreads that key across 16
    reducer tasks. Semantics are join-identical — the oracle is the
    plain join — while the physical plan avoids the one-task straggler
    AQE can't always split (operators/skew.salted_join docstring).
    """
    from ccgp_data_wrangling_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_partkey") % 10 == 0, 0)
        .otherwise(F.col("l_partkey"))
        .alias("k"),
        "l_extendedprice",
    )
    dim = (
        load_table(spark, sf_dir, "part")
        .select(
            F.when(F.col("p_partkey") % 10 == 0, 0)
            .otherwise(F.col("p_partkey"))
            .alias("k"),
            "p_brand",
        )
        .groupBy("k")
        .agg(F.min("p_brand").alias("brand"))
    )
    return (
        salted_join(li, dim, ["k"], n_salts=16)
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# A/B test readout: user-parity assignment, purchase-rate z-test.
# sqrt is IEEE-deterministic; the z-score rounds to 4 dp.
# ---------------------------------------------------------------------------

_ABTEST_SQL = """
WITH assign AS (
  SELECT user_id, user_id % 2 AS grp,
         MAX(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY 1, 2
),
arms AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM assign GROUP BY 1
),
wide AS (
  SELECT MAX(CASE WHEN grp = 0 THEN n END) AS n0,
         MAX(CASE WHEN grp = 0 THEN conv END) AS c0,
         MAX(CASE WHEN grp = 1 THEN n END) AS n1,
         MAX(CASE WHEN grp = 1 THEN conv END) AS c1
  FROM arms
)
SELECT n0, c0, n1, c1,
       ROUND(CAST(c0 AS DOUBLE) / n0, 6) AS rate_control,
       ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate_treatment,
       ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / SQRT((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 4) AS z_score
FROM wide
"""


@register("ab_test_conversion", _ABTEST_SQL)
def ab_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on high-value-purchase conversion
    (value > 200 — every user makes SOME purchase in this synthetic
    corpus, which would zero the pooled variance), arms by user
    parity. One per-user aggregate + one 2-row rollup; the pooled-
    variance z formula is plain arithmetic + one IEEE sqrt, rounded
    4 dp on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    assign = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("grp")
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 200),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    arms = assign.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("grp") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("conv"))).alias("c1"),
    )
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (p1 - p0) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    return wide.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("c0").cast("long").alias("c0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("c1").cast("long").alias("c1"),
        F.round(p0, 6).alias("rate_control"),
        F.round(p1, 6).alias("rate_treatment"),
        F.round(z, 4).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Week-over-week revenue growth: weekly rollup (fact-sized shuffle)
# then lag/pct-change over the TINY aggregated relation — the window
# runs on weeks, not orders.
# ---------------------------------------------------------------------------

_WOW_SQL = """
WITH weekly AS (
  SELECT CAST(DATE_TRUNC('week', o_orderdate) AS DATE) AS wk,
         ROUND(SUM(o_totalprice), 2) AS revenue
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
  GROUP BY 1
)
SELECT wk, revenue,
       ROUND(LAG(revenue) OVER (ORDER BY wk), 2) AS prev_revenue,
       CASE WHEN LAG(revenue) OVER (ORDER BY wk) IS NULL THEN NULL
            ELSE ROUND((revenue - LAG(revenue) OVER (ORDER BY wk))
                       / LAG(revenue) OVER (ORDER BY wk), 6) END AS wow_growth
FROM weekly
"""


@register("wow_revenue_growth", _WOW_SQL)
def wow_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue with week-over-week growth rate (H1 1996).

    The global-ordered lag window is legal here because it runs over
    the ~26-row weekly rollup, not the fact table — the aggregate
    collapses BEFORE the single-partition window, which is the rule
    that makes 'small window after big shuffle' scale-safe.
    """
    from pyspark.sql import Window

    weekly = (
        load_table(spark, sf_dir, "orders")
        .where(
            F.col("o_orderdate").between(
                "1996-01-01 00:00:00", "1996-06-30 23:59:59"
            )
        )
        .groupBy(
            F.date_trunc("week", "o_orderdate").cast("date").alias("wk")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    )
    # unpartitioned lag is SAFE here: input is the post-aggregation
    # weekly series (≤ 26 rows for the half-year filter), not raw rows
    w = Window.orderBy("wk")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "wk",
        "revenue",
        F.round(prev, 2).alias("prev_revenue"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise(F.round((F.col("revenue") - prev) / prev, 6))
        .alias("wow_growth"),
    )


# ---------------------------------------------------------------------------
# Null-safe equi-join (<=> / IS NOT DISTINCT FROM): dirty keys where
# NULL means "unknown segment" and must MATCH the dim's NULL row
# instead of silently dropping — the semantics plain equi-joins get
# wrong in every cleanup pipeline.
# ---------------------------------------------------------------------------

_NULLSAFE_SQL = """
WITH fact AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
  FROM customer
),
dim AS (
  SELECT DISTINCT c_mktsegment AS seg, 'known:' || c_mktsegment AS label
  FROM customer
  UNION ALL
  SELECT NULL, 'unknown-segment'
)
SELECT f.c_custkey, d.label
FROM fact f JOIN dim d ON f.seg IS NOT DISTINCT FROM d.seg
"""


@register("nullsafe_join_segments", _NULLSAFE_SQL)
def nullsafe_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe dim join: every seventh customer's segment is NULL
    (unknown) and must land on the dim's sentinel row — eqNullSafe
    keeps the join a broadcast hash join (null-safe keys still hash).
    """
    cust = load_table(spark, sf_dir, "customer")
    fact = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None)).otherwise(
            F.col("c_mktsegment")
        ).alias("seg"),
    )
    dim = (
        cust.select(F.col("c_mktsegment").alias("seg"))
        .dropDuplicates()
        .select("seg", F.concat(F.lit("known:"), F.col("seg")).alias("label"))
        .unionByName(
            cust.sparkSession.createDataFrame(
                [(None, "unknown-segment")], "seg string, label string"
            )
        )
    )
    return fact.join(
        F.broadcast(dim), fact.seg.eqNullSafe(dim.seg)
    ).select("c_custkey", "label")


# ---------------------------------------------------------------------------
# Pure-SQL interface: the engine's queries are DataFrame-built, but
# users also get the textual surface — temp views + spark.sql, same
# Catalyst plan underneath. The statement is deliberately identical
# to the DuckDB oracle (both are ANSI SQL over the same views).
# ---------------------------------------------------------------------------

_SQLAPI_SQL = """
SELECT n.n_name AS nation,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_buyers,
       ROUND(SUM(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE o.o_orderstatus = 'F'
GROUP BY 1
HAVING COUNT(*) >= 10
"""


@register("sql_api_nation_revenue", _SQLAPI_SQL)
def sql_api_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finished-order revenue by nation through the TEXTUAL SQL
    surface: temp views + ``spark.sql`` with the byte-identical
    statement the oracle runs. Catalyst plans it exactly like the
    DataFrame twin queries (broadcast dims, partial aggs) — the API
    is syntax, not semantics.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_SQLAPI_SQL)
