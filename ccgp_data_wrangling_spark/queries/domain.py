"""Domain-operator queries: the reference's CCGP pipelines exercised
over deterministic fixtures derived from the benchmark tables, so the
driver's DuckDB oracle can check them end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.catalog import load_table
from ccgp_data_wrangling_spark.operators.linkage import link_reads_to_samples
from ccgp_data_wrangling_spark.queries import register

# ---------------------------------------------------------------------------
# J1/J2/A5 linkage join, driver-checkable: samples = every 7th customer
# (id "C<custkey>"), reads = one fastq per order named
# "C<custkey>_L00<orderkey%4>_R1_001.fastq.gz". The Spark side runs the
# REAL linkage operator (candidate-span inversion, tier cascade,
# conflict window); the oracle replicates the effective join with a
# substring predicate — for this fixture every match is exact-tier and
# conflict-free, so the results must agree exactly.
# ---------------------------------------------------------------------------

_J1_SQL = """
WITH samples AS (
  SELECT c_name AS sample_name,
         'C' || CAST(c_custkey AS VARCHAR) AS id
  FROM customer WHERE c_custkey % 7 = 0
),
reads AS (
  SELECT 'C' || CAST(o_custkey AS VARCHAR) || '_O'
           || CAST(o_orderkey AS VARCHAR) || '_R1_001.fastq.gz' AS file_name,
         o_orderkey AS filesize,
         o_orderdate AS mdate
  FROM orders
)
SELECT s.sample_name,
       COUNT(*)                    AS n_files,
       CAST(SUM(r.filesize) AS BIGINT) AS filesize_sum,
       MIN(r.mdate)                AS received
FROM samples s
JOIN reads r ON CONTAINS(r.file_name, s.id || '_')
GROUP BY 1
"""


@register("j1_linkage_fileset", _J1_SQL)
def j1_linkage_fileset(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    samples = cust.where(F.col("c_custkey") % 7 == 0).select(
        F.col("c_name").alias("sample_name"),
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias(
            "minicore_seq_id"
        ),
        F.lit("YES").alias("minicore_sequenced"),
    )
    reads = orders.select(
        F.concat(
            F.lit("C"),
            F.col("o_custkey").cast("string"),
            F.lit("_O"),
            F.col("o_orderkey").cast("string"),
            F.lit("_R1_001.fastq.gz"),
        ).alias("file_name"),
        F.col("o_orderkey").alias("filesize"),
        F.col("o_orderdate").alias("mdate"),
    )
    linked = link_reads_to_samples(samples, reads)
    return linked.select(
        "sample_name",
        "n_files",
        F.col("filesize_sum").cast("long").alias("filesize_sum"),
        "received",
    )


# ---------------------------------------------------------------------------
# A3 depth model (variance_sheets_new.py:104-165, variance_files.py:104-156):
# reads = round(filesize_sum · 0.013534218984527578), depth =
# round(reads·150/genome_size, 3); per project: mean depth, counts
# depth<5 / depth<8, samples considered. Fixture: customers as samples
# (project = nation), filesize_sum from acctbal, genome size from the
# nation dimension (broadcast join).
# ---------------------------------------------------------------------------

_READS_CONST = 0.013534218984527578

_A3_SQL = f"""
WITH samples AS (
  SELECT c_custkey, c_nationkey AS project,
         CAST(ROUND((c_acctbal + 1000) * 1e6) AS BIGINT) AS filesize_sum
  FROM customer
),
dims AS (
  SELECT n_nationkey AS project, (n_nationkey + 1) * 5e8 AS genome_size
  FROM nation
),
derived AS (
  SELECT s.project,
         ROUND(s.filesize_sum * {_READS_CONST}) AS reads,
         ROUND(ROUND(s.filesize_sum * {_READS_CONST}) * 150 / d.genome_size, 3) AS depth
  FROM samples s JOIN dims d ON s.project = d.project
)
SELECT project,
       ROUND(AVG(depth), 4)                                   AS mean_depth,
       CAST(SUM(CASE WHEN depth < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_5,
       CAST(SUM(CASE WHEN depth < 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_below_8,
       COUNT(*)                                               AS n_considered
FROM derived GROUP BY project
"""


@register("a3_depth_model", _A3_SQL)
def a3_depth_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    samples = cust.select(
        F.col("c_nationkey").alias("project"),
        F.round((F.col("c_acctbal") + 1000) * 1e6).cast("long").alias("filesize_sum"),
    )
    dims = nation.select(
        F.col("n_nationkey").alias("project"),
        ((F.col("n_nationkey") + 1) * 5e8).alias("genome_size"),
    )
    reads = F.round(F.col("filesize_sum") * _READS_CONST)
    derived = samples.join(F.broadcast(dims), "project").select(
        "project",
        F.round(reads * 150 / F.col("genome_size"), 3).alias("depth"),
    )
    return derived.groupBy("project").agg(
        F.round(F.avg("depth"), 4).alias("mean_depth"),
        F.sum(F.when(F.col("depth") < 5, 1).otherwise(0)).cast("long").alias("n_below_5"),
        F.sum(F.when(F.col("depth") < 8, 1).otherwise(0)).cast("long").alias("n_below_8"),
        F.count(F.lit(1)).alias("n_considered"),
    )


# ---------------------------------------------------------------------------
# J5 array-membership join (update_projectID_reads_col.py:34-54):
# samples carry a files ARRAY; propagate the project id onto each read
# row via explode(files) + equi-join — never a contains() theta-join.
# The samples fixture builds real array columns with collect_list.
# ---------------------------------------------------------------------------

_J5_SQL = """
WITH reads AS (
  SELECT 'F' || CAST(o_orderkey AS VARCHAR) || '.fastq.gz' AS file_name,
         o_custkey
  FROM orders
),
samples AS (
  SELECT c_custkey, c_nationkey AS project FROM customer WHERE c_custkey % 3 = 0
)
SELECT r.file_name, s.project
FROM reads r JOIN samples s ON r.o_custkey = s.c_custkey
"""


@register("j5_array_membership_join", _J5_SQL)
def j5_array_membership_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    reads = orders.select(
        F.concat(F.lit("F"), F.col("o_orderkey").cast("string"), F.lit(".fastq.gz")).alias("file_name"),
        "o_custkey",
    )
    # build the ARRAY column for real (sample rows carry files[]), then
    # explode back — the operator under test is the explode+equi-join
    samples = (
        reads.join(
            cust.where(F.col("c_custkey") % 3 == 0).select("c_custkey", "c_nationkey"),
            reads.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.collect_list("file_name").alias("files"))
    )
    exploded = samples.select(
        F.col("c_nationkey").alias("project"),
        F.explode("files").alias("file_name"),
    )
    return reads.join(exploded, "file_name").select("file_name", "project")


# ---------------------------------------------------------------------------
# J8 coalescing dimension join (variance_files.py:24-57): genome size
# from a primary range, else a backup range — full outer + coalesce.
# ---------------------------------------------------------------------------

_J8_SQL = """
WITH primary_dim AS (
  SELECT n_nationkey AS project, (n_nationkey + 1) * 1e9 AS gsize
  FROM nation WHERE n_nationkey % 2 = 0
),
backup_dim AS (
  SELECT n_nationkey AS project, (n_nationkey + 1) * 2e9 AS gsize
  FROM nation WHERE n_nationkey % 3 <> 0
)
SELECT COALESCE(p.project, b.project) AS project,
       COALESCE(p.gsize, b.gsize)     AS genome_size,
       CASE WHEN p.project IS NOT NULL THEN 'primary' ELSE 'backup' END AS source
FROM primary_dim p FULL OUTER JOIN backup_dim b ON p.project = b.project
"""


@register("j8_coalescing_dim_join", _J8_SQL)
def j8_coalescing_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    primary = nation.where(F.col("n_nationkey") % 2 == 0).select(
        F.col("n_nationkey").alias("project"),
        ((F.col("n_nationkey") + 1) * 1e9).alias("gsize"),
    )
    backup = nation.where(F.col("n_nationkey") % 3 != 0).select(
        F.col("n_nationkey").alias("p2"),
        ((F.col("n_nationkey") + 1) * 2e9).alias("g2"),
    )
    return primary.join(
        backup, primary.project == backup.p2, "full_outer"
    ).select(
        F.coalesce("project", "p2").alias("project"),
        F.coalesce("gsize", "g2").alias("genome_size"),
        F.when(F.col("project").isNotNull(), "primary").otherwise("backup").alias("source"),
    )


# ---------------------------------------------------------------------------
# J9 index-aligned outer join (utils/parse.py:323-336): the dashboard
# summary assembled from independent per-project series — a chain of
# full-outer joins on the project key with coalesced counts.
# ---------------------------------------------------------------------------

_J9_SQL = """
WITH c AS (SELECT c_nationkey AS project, COUNT(*) AS n_customers FROM customer GROUP BY 1),
s AS (SELECT s_nationkey AS project, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1),
o AS (SELECT c_nationkey AS project, COUNT(*) AS n_orders,
             CAST(SUM(ROUND(o_totalprice)) AS BIGINT) AS total_spend
      FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1)
SELECT COALESCE(c.project, s.project, o.project) AS project,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers,
       COALESCE(n_orders, 0)    AS n_orders,
       COALESCE(total_spend, 0) AS total_spend
FROM c
FULL OUTER JOIN s ON c.project = s.project
FULL OUTER JOIN o ON COALESCE(c.project, s.project) = o.project
"""


@register("j9_summary_assembly", _J9_SQL)
def j9_summary_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    c = cust.groupBy(F.col("c_nationkey").alias("project")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = supp.groupBy(F.col("s_nationkey").alias("p_s")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    o = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("p_o"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round("o_totalprice")).cast("long").alias("total_spend"),
        )
    )
    j = c.join(s, c.project == s.p_s, "full_outer")
    j = j.withColumn("k1", F.coalesce("project", "p_s"))
    j = j.join(o, j.k1 == o.p_o, "full_outer")
    return j.select(
        F.coalesce("project", "p_s", "p_o").alias("project"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("total_spend", F.lit(0)).alias("total_spend"),
    )


# ---------------------------------------------------------------------------
# F5/F9 file-count audits (check_files_field_count.py:26-46,
# project_missing_files.py:18-24): suspicious samples (≥ 11 files,
# project not excluded) and empty-files report, over REAL array
# columns built with collect_list on a left join (childless customers
# get empty arrays, exercising the size()=0-or-null branch).
# ---------------------------------------------------------------------------

_F5_SQL = """
WITH counts AS (
  SELECT c.c_name AS sample_name, c.c_nationkey AS project,
         COUNT(o.o_orderkey) AS n_files
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
)
SELECT sample_name, CAST(n_files AS INT) AS n_files,
       CASE WHEN n_files = 0 THEN 'empty'
            WHEN n_files >= 11 AND project NOT IN (3, 7) THEN 'suspicious'
            ELSE 'ok' END AS status
FROM counts
"""


@register("f5_file_count_audit", _F5_SQL)
def f5_file_count_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    files = orders.select(
        "o_custkey",
        F.concat(F.lit("F"), F.col("o_orderkey").cast("string")).alias("f"),
    )
    samples = (
        cust.join(files, cust.c_custkey == files.o_custkey, "left")
        .groupBy("c_name", "c_nationkey")
        .agg(F.collect_list("f").alias("files"))
    )
    n_files = F.size("files")
    return samples.select(
        F.col("c_name").alias("sample_name"),
        n_files.alias("n_files"),
        F.when((n_files == 0) | F.col("files").isNull(), "empty")
        .when((n_files >= 11) & ~F.col("c_nationkey").isin(3, 7), "suspicious")
        .otherwise("ok")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# X9 geo_loc_name merge + required-column imputation
# (create_sheets_ultimate.py:295-329) over a deterministic dirty
# fixture: every combination of blank/present geo, locality, county,
# state appears (keyed off c_custkey residues).
# ---------------------------------------------------------------------------

_X9_FIXTURE_SQL = """
  SELECT c_name AS sample_name,
         CASE c_custkey % 4 WHEN 1 THEN '' WHEN 2 THEN 'Point Reyes' ELSE NULL END AS geo0,
         CASE c_custkey % 3 WHEN 1 THEN 'Creek bank' WHEN 2 THEN '' ELSE NULL END  AS loc,
         CASE c_custkey % 5 WHEN 1 THEN 'Marin' WHEN 3 THEN 'Kern' WHEN 2 THEN '' ELSE NULL END AS county,
         CASE c_custkey % 7 WHEN 1 THEN 'California' WHEN 2 THEN 'Oregon' WHEN 3 THEN '' ELSE NULL END AS state
  FROM customer
"""

_X9_SQL = f"""
WITH fx AS ({_X9_FIXTURE_SQL}),
merged AS (
  SELECT sample_name,
         CASE
           WHEN (geo0 IS NULL OR geo0 = '') AND (loc IS NULL OR loc = '') THEN
             CASE
               WHEN (county IS NULL OR county = '') AND (state IS NULL OR state = '') THEN 'missing'
               WHEN (state IS NULL OR state = '') AND NOT (county IS NULL OR county = '') THEN 'missing'
               WHEN NOT (county IS NULL OR county = '') AND NOT (state IS NULL OR state = '')
                 THEN 'USA: ' || state || ': ' || county
               ELSE NULL
             END
           WHEN NOT (geo0 IS NULL OR geo0 = '') AND (loc IS NULL OR loc = '') THEN geo0
           WHEN (geo0 IS NULL OR geo0 = '') AND NOT (loc IS NULL OR loc = '') THEN loc
           ELSE geo0 || ':' || loc
         END AS g
  FROM fx
)
SELECT sample_name, COALESCE(NULLIF(g, ''), 'not provided') AS geo_loc_name
FROM merged
"""


@register("x9_geo_loc_merge", _X9_SQL)
def x9_geo_loc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.sheets import (
        impute_required,
        merge_geo_loc_name,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    fx = cust.select(
        F.col("c_name").alias("sample_name"),
        F.when(k % 4 == 1, "").when(k % 4 == 2, "Point Reyes").alias("geo0"),
        F.when(k % 3 == 1, "Creek bank").when(k % 3 == 2, "").alias("loc"),
        F.when(k % 5 == 1, "Marin").when(k % 5 == 3, "Kern").when(k % 5 == 2, "").alias("county"),
        F.when(k % 7 == 1, "California").when(k % 7 == 2, "Oregon").when(k % 7 == 3, "").alias("state"),
    )
    merged = merge_geo_loc_name(
        F.col("geo0"), F.col("loc"), F.col("county"), F.col("state")
    )
    return fx.select(
        "sample_name", impute_required(merged).alias("geo_loc_name")
    )


# ---------------------------------------------------------------------------
# X10 coordinate masking policy (create_sheets_ultimate.py:452-520)
# over a fixture covering every flag combination, incl. the unhandled
# ones the reference leaves untouched.
# ---------------------------------------------------------------------------

_X10_FIXTURE_SQL = """
  SELECT c_name AS sample_name,
         CASE c_custkey % 4 WHEN 0 THEN 'TRUE' WHEN 1 THEN 'TRUE' WHEN 2 THEN 'FALSE' ELSE NULL END AS protected,
         CASE c_custkey % 2 WHEN 0 THEN 'TRUE' ELSE 'FALSE' END AS exclude,
         CASE c_custkey % 4 WHEN 0 THEN 'missing' WHEN 1 THEN 'not provided'
              WHEN 2 THEN 'Point Reyes' ELSE '' END AS existing_geo,
         CASE WHEN c_custkey % 11 = 0 THEN 'NaN'
              ELSE printf('%.2f', CAST(((c_acctbal % 90) + 90) AS DOUBLE) % 90) END AS lat_str,
         CASE WHEN c_custkey % 11 = 0 THEN 'NaN'
              ELSE printf('%.2f', -(CAST(((c_acctbal % 180) + 180) AS DOUBLE) % 180)) END AS long_str,
         CAST(c_custkey % 36 + 1 AS VARCHAR) AS township,
         CAST(c_custkey % 24 + 1 AS VARCHAR) AS range,
         CAST(c_custkey % 16 + 1 AS VARCHAR) AS section,
         CASE WHEN c_custkey % 5 = 0 THEN 'not provided' ELSE 'USA:California' END AS geocoded
  FROM customer
"""

_X10_SQL = f"""
WITH fx AS ({_X10_FIXTURE_SQL})
SELECT sample_name,
       CASE
         WHEN protected = 'TRUE' AND exclude = 'FALSE'
           THEN geocoded || ', ' || township || '-' || range || '-' || section
         WHEN (COALESCE(protected,'') = 'FALSE' AND exclude = 'FALSE')
              OR (COALESCE(protected,'') = '' AND COALESCE(exclude,'') = '')
           THEN CASE
                  WHEN NOT (existing_geo IS NULL OR existing_geo = '') AND geocoded <> 'not provided'
                    THEN CASE WHEN existing_geo = 'missing' THEN geocoded
                              ELSE geocoded || ', ' || existing_geo END
                  ELSE geocoded
                END
         ELSE existing_geo
       END AS geo_loc_name,
       CASE
         WHEN protected = 'TRUE' AND exclude = 'TRUE' THEN 'not provided'
         WHEN (COALESCE(protected,'') = 'FALSE' AND exclude = 'FALSE')
              OR (COALESCE(protected,'') = '' AND COALESCE(exclude,'') = '')
           THEN CASE WHEN lat_str = 'NaN' AND long_str = 'NaN' THEN 'not provided'
                     ELSE lat_str || ',' || long_str END
         ELSE NULL
       END AS lat_lon
FROM fx
"""


@register("x10_coordinate_masking", _X10_SQL)
def x10_coordinate_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.sheets import mask_coordinates

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    bal = F.col("c_acctbal").cast("double")
    fx = cust.select(
        F.col("c_name").alias("sample_name"),
        F.when(k % 4 == 0, "TRUE").when(k % 4 == 1, "TRUE").when(k % 4 == 2, "FALSE").alias("protected"),
        F.when(k % 2 == 0, "TRUE").otherwise("FALSE").alias("exclude"),
        F.when(k % 4 == 0, "missing").when(k % 4 == 1, "not provided")
         .when(k % 4 == 2, "Point Reyes").otherwise("").alias("existing_geo"),
        F.when(k % 11 == 0, "NaN")
         .otherwise(F.format_string("%.2f", F.pmod(bal % 90 + 90, F.lit(90.0)))).alias("lat_str"),
        F.when(k % 11 == 0, "NaN")
         .otherwise(F.format_string("%.2f", -F.pmod(bal % 180 + 180, F.lit(180.0)))).alias("long_str"),
        (k % 36 + 1).cast("string").alias("township"),
        (k % 24 + 1).cast("string").alias("range"),
        (k % 16 + 1).cast("string").alias("section"),
        F.when(k % 5 == 0, "not provided").otherwise("USA:California").alias("geocoded"),
    )
    geo_out, lat_lon_out = mask_coordinates(
        existing_geo=F.col("existing_geo"),
        protected=F.col("protected"),
        exclude=F.col("exclude"),
        lat_str=F.col("lat_str"),
        long_str=F.col("long_str"),
        township=F.col("township"),
        range_=F.col("range"),
        section=F.col("section"),
        geocoded=F.col("geocoded"),
    )
    return fx.select(
        "sample_name",
        geo_out.alias("geo_loc_name"),
        lat_lon_out.alias("lat_lon"),
    )


# ---------------------------------------------------------------------------
# X1-X6 cleaning pipeline: dirty composite coordinate/date/name strings
# built deterministically from customer+orders numerics, then parsed by
# the cleaning library. The oracle recomputes the EXPECTED values from
# the SOURCE numbers independently — it never re-parses the strings —
# so the parse logic is genuinely exercised.
# ---------------------------------------------------------------------------

_X_CLEAN_SQL = """
WITH src AS (
  SELECT c_custkey AS k, c_name,
         CAST(c_custkey % 90 AS DOUBLE) + 0.25  AS latn,
         CAST(c_custkey % 180 AS DOUBLE) + 0.5  AS lonn,
         c_custkey % 90   AS deg,
         c_custkey % 60   AS mins,
         (c_custkey % 600) / 10.0 AS secs
  FROM customer
)
SELECT k,
       ROUND(latn, 6)  AS lat_parsed,
       ROUND(-lonn, 6) AS long_parsed,
       ROUND(-(deg + mins/60.0 + secs/3600.0), 6) + 0.0 AS dms_parsed,
       CASE WHEN k % 3 = 0 THEN '2021/2022'
            WHEN k % 3 = 1 THEN '2021-03-07'
            ELSE '2021-' || lpad(CAST(k % 12 + 1 AS VARCHAR), 2, '0')
                 || '-' || lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0') END AS date_norm,
       replace(replace(c_name || '.tag A', '.', '_'), ' ', '_') AS name_clean,
       CASE WHEN k % 4 = 3 THEN c_name ELSE NULL END AS scrubbed
FROM src
"""


@register("x_cleaning_pipeline", _X_CLEAN_SQL)
def x_cleaning_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.functions.cleaning import (
        check_date,
        check_lat,
        check_long,
        clean_name,
        dms2dd,
        scrub_sentinels,
        split_lat,
        split_long,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    latn = (k % 90).cast("double") + 0.25
    lonn = (k % 180).cast("double") + 0.5
    deg = k % 90
    mins = k % 60
    secs = (k % 600) / 10.0
    # dirty composite strings, three X1 shapes by residue
    coord_str = (
        F.when(k % 3 == 0, F.format_string("%.2f N %.2f W", latn, lonn))
        .when(k % 3 == 1, F.format_string("%.2f,%.2f", latn, lonn))
        .otherwise(F.format_string("%.2f_%.2f", latn, lonn))
    )
    dms_str = F.format_string("%d°%d'%.1f\"S", deg, mins, secs)
    date_str = (
        F.when(k % 3 == 0, F.lit("2021,2022"))
        .when(k % 3 == 1, F.lit("2021-03-07"))  # passthrough branch
        .otherwise(
            F.format_string("%d/%d/2021", k % 12 + 1, k % 28 + 1)
        )
    )
    dirty_name = F.concat(F.col("c_name"), F.lit(".tag A"))  # dots + space
    sentinel = (
        F.when(k % 4 == 0, F.lit(""))
        .when(k % 4 == 1, F.lit("NaN"))
        .when(k % 4 == 2, F.lit("Not determined yet"))
        .otherwise(F.col("c_name"))
    )
    return cust.select(
        k.alias("k"),
        F.round(check_lat(split_lat(coord_str)), 6).alias("lat_parsed"),
        F.round(check_long(split_long(coord_str)), 6).alias("long_parsed"),
        # + 0.0 canonicalizes IEEE -0.0 → 0.0 (k=0 yields -(0°0'0"S))
        (F.round(dms2dd(dms_str), 6) + 0.0).alias("dms_parsed"),
        check_date(date_str).alias("date_norm"),
        clean_name(dirty_name).alias("name_clean"),
        scrub_sentinels(sentinel).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# X11 offline reverse geocode (create_sheets_ultimate.py:641-732, made
# deterministic): coordinates derived from customer numerics; nulls and
# out-of-region points → 'not provided'.
# ---------------------------------------------------------------------------

_X11_SQL = """
WITH pts AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE 32.0 + CAST(c_custkey % 180 AS DOUBLE) / 10.0 END AS lat,
         CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE -125.0 + CAST(c_custkey % 160 AS DOUBLE) / 10.0 END AS long
  FROM customer
)
SELECT k, lat, long,
       CASE
         WHEN lat BETWEEN 32.5 AND 42.0 AND long BETWEEN -124.5 AND -114.1 THEN 'USA:California'
         WHEN lat BETWEEN 42.0 AND 46.3 AND long BETWEEN -124.6 AND -116.5 THEN 'USA:Oregon'
         WHEN lat BETWEEN 35.0 AND 42.0 AND long BETWEEN -120.0 AND -114.0 THEN 'USA:Nevada'
         WHEN lat BETWEEN 31.3 AND 37.0 AND long BETWEEN -114.8 AND -109.0 THEN 'USA:Arizona'
         WHEN lat BETWEEN 45.5 AND 49.0 AND long BETWEEN -124.8 AND -116.9 THEN 'USA:Washington'
         ELSE 'not provided'
       END AS geocoded
FROM pts
"""


@register("x11_reverse_geocode", _X11_SQL)
def x11_reverse_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.geocode import reverse_geocode_expr

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lat = F.when(k % 13 != 0, 32.0 + (k % 180).cast("double") / 10.0)
    long = F.when(k % 13 != 0, -125.0 + (k % 160).cast("double") / 10.0)
    pts = cust.select(k.alias("k"), lat.alias("lat"), long.alias("long"))
    return pts.select(
        "k", "lat", "long",
        reverse_geocode_expr(F.col("lat"), F.col("long")).alias("geocoded"),
    )


# ---------------------------------------------------------------------------
# X11b service-backed reverse geocode: the same contract as x11, but
# through the injected-service path (create_sheets_ultimate.py:643
# Nominatim loop re-shaped as distinct-coords → rate-limited lookup →
# broadcast join). The injected service is the deterministic offline
# box lookup; out-of-box points exercise the reference's literal
# 'USA:California,' miss fallback (:717), null coords 'not provided'.
# ---------------------------------------------------------------------------

_X11B_SQL = """
WITH pts AS (
  SELECT c_custkey AS k,
         CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE 32.0 + CAST(c_custkey % 180 AS DOUBLE) / 10.0 END AS lat,
         CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE -125.0 + CAST(c_custkey % 160 AS DOUBLE) / 10.0 END AS long
  FROM customer
)
SELECT k, lat, long,
       CASE
         WHEN lat IS NULL OR long IS NULL THEN 'not provided'
         WHEN lat BETWEEN 32.5 AND 42.0 AND long BETWEEN -124.5 AND -114.1 THEN 'USA:California'
         WHEN lat BETWEEN 42.0 AND 46.3 AND long BETWEEN -124.6 AND -116.5 THEN 'USA:Oregon'
         WHEN lat BETWEEN 35.0 AND 42.0 AND long BETWEEN -120.0 AND -114.0 THEN 'USA:Nevada'
         WHEN lat BETWEEN 31.3 AND 37.0 AND long BETWEEN -114.8 AND -109.0 THEN 'USA:Arizona'
         WHEN lat BETWEEN 45.5 AND 49.0 AND long BETWEEN -124.8 AND -116.9 THEN 'USA:Washington'
         ELSE 'USA:California,'
       END AS geo_loc
FROM pts
"""


@register("x11b_service_geocode", _X11B_SQL)
def x11b_service_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.geocode import (
        offline_box_service,
        service_reverse_geocode,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lat = F.when(k % 13 != 0, 32.0 + (k % 180).cast("double") / 10.0)
    long = F.when(k % 13 != 0, -125.0 + (k % 160).cast("double") / 10.0)
    pts = cust.select(k.alias("k"), lat.alias("lat"), long.alias("long"))
    return service_reverse_geocode(
        pts,
        "lat",
        "long",
        service=offline_box_service,
        max_calls_per_sec=None,  # injected in-process service: no budget
    ).select("k", "lat", "long", "geo_loc")


# ---------------------------------------------------------------------------
# F2 regex filter (update_reads_by_lane.py:191: lane-name contains) +
# X15 batch-id extraction (workflows/batch_extract.py:4-9).
# ---------------------------------------------------------------------------

_F2_SQL = r"""
SELECT o_orderkey,
       'L' || CAST(o_orderkey % 8 AS VARCHAR) || '_multiqc_data' AS folder,
       REGEXP_EXTRACT('L' || CAST(o_orderkey % 8 AS VARCHAR) || '_multiqc_data',
                      '([\w-]+)_multiqc_data', 1) AS batch_id
FROM orders
WHERE o_orderpriority LIKE '%URGENT%' AND REGEXP_MATCHES(o_orderstatus, '^[OF]$')
"""


@register("f2_regex_filter", _F2_SQL)
def f2_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    folder = F.concat(
        F.lit("L"), (F.col("o_orderkey") % 8).cast("string"), F.lit("_multiqc_data")
    )
    return (
        orders.where(
            F.col("o_orderpriority").contains("URGENT")
            & F.col("o_orderstatus").rlike(r"^[OF]$")
        )
        .select(
            "o_orderkey",
            folder.alias("folder"),
            F.regexp_extract(folder, r"([\w-]+)_multiqc_data", 1).alias("batch_id"),
        )
    )


# ---------------------------------------------------------------------------
# R2 filenameN pivot (create_sheets_ultimate.py:260-263,432-436): the
# per-sample sorted file array pivoted into fixed filename1..filename4
# columns (missing → NULL).
# ---------------------------------------------------------------------------

_R2_SQL = """
WITH files AS (
  SELECT o_custkey,
         LIST_SORT(LIST('F' || CAST(o_orderkey AS VARCHAR) || '.fastq.gz')) AS fs
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey AS sample_key,
       CAST(LEN(fs) AS INT) AS n_files,
       fs[1] AS filename1, fs[2] AS filename2, fs[3] AS filename3, fs[4] AS filename4
FROM files
"""


@register("r2_filename_pivot", _R2_SQL)
def r2_filename_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    files = (
        orders.select(
            "o_custkey",
            F.concat(
                F.lit("F"), F.col("o_orderkey").cast("string"), F.lit(".fastq.gz")
            ).alias("f"),
        )
        .groupBy("o_custkey")
        .agg(F.array_sort(F.collect_list("f")).alias("fs"))
    )
    return files.select(
        F.col("o_custkey").alias("sample_key"),
        F.size("fs").alias("n_files"),
        *[
            F.try_element_at("fs", F.lit(i)).alias(f"filename{i}")
            for i in (1, 2, 3, 4)
        ],
    )


# ---------------------------------------------------------------------------
# R3 document flatten (update_gsheet.py:14 json_normalize): nested
# struct built then flattened with select("s.*") — the Spark-native
# equivalent of Mongo-document normalization.
# ---------------------------------------------------------------------------

_R3_SQL = """
SELECT n_nationkey AS key,
       n_name      AS name,
       r_name      AS region_name,
       CAST(LENGTH(n_name) AS INT) AS name_len
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


@register("r3_struct_flatten", _R3_SQL)
def r3_struct_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nested = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey).select(
        F.struct(
            F.col("n_nationkey").alias("key"),
            F.col("n_name").alias("name"),
            F.struct(
                F.col("r_name").alias("region_name"),
                F.length("n_name").alias("name_len"),
            ).alias("meta"),
        ).alias("doc")
    )
    # flatten the nested document: doc.* then meta.*
    return nested.select("doc.*").select("key", "name", "meta.*")


# ---------------------------------------------------------------------------
# R1-legacy prefix pairing (create_sheets.py:22-64): per-sample file
# sets paired by regex prefix derivation + per-prefix fuzzy top-2.
# Fixture: each order contributes an R1/R2 file pair named
# "S<custkey>_L<orderkey%4>_R{1,2}_001.fastq.gz"; samples with many
# orders get ≥4 files (multi-lane branch), single-order samples get
# exactly 2 (simple branch). The oracle replicates prefix derivation,
# scoring, and the rank-ordered pair assembly in SQL.
# ---------------------------------------------------------------------------

_R1_LEGACY_SQL = r"""
WITH f0 AS (
  SELECT o_custkey AS sample_id,
         'S' || CAST(o_custkey AS VARCHAR) || '_L'
             || CAST(o_orderkey % 4 AS VARCHAR) AS prefix
  FROM orders WHERE o_custkey % 11 = 0
),
files AS (
  SELECT DISTINCT sample_id, prefix || suffix AS file_name
  FROM f0, (VALUES ('_R1_001.fastq.gz'), ('_R2_001.fastq.gz')) t(suffix)
),
counts AS (SELECT sample_id, COUNT(*) AS n FROM files GROUP BY 1),
two AS (
  SELECT f.sample_id, MIN(f.file_name) AS filename, MAX(f.file_name) AS filename2
  FROM files f JOIN counts c USING (sample_id)
  WHERE c.n = 2 GROUP BY f.sample_id
),
multi AS (
  SELECT f.sample_id, f.file_name FROM files f JOIN counts c USING (sample_id)
  WHERE c.n >= 4
),
prefixes AS (
  SELECT DISTINCT sample_id,
         REGEXP_SPLIT_TO_ARRAY(file_name, '_R\d[._]')[1] AS pfx
  FROM multi
),
scored AS (
  SELECT p.sample_id, p.pfx, f.file_name,
         ROUND(100.0 * (LENGTH(p.pfx) + LENGTH(f.file_name)
                        - LEVENSHTEIN(p.pfx, f.file_name))
               / (LENGTH(p.pfx) + LENGTH(f.file_name)), 3) AS ratio
  FROM prefixes p JOIN multi f USING (sample_id)
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY sample_id, pfx
                               ORDER BY ratio DESC, file_name) AS rn
  FROM scored
),
pairs AS (
  SELECT sample_id,
         MAX(CASE WHEN rn = 1 THEN file_name END) AS filename,
         MAX(CASE WHEN rn = 2 THEN file_name END) AS filename2
  FROM ranked WHERE rn <= 2 GROUP BY sample_id, pfx
),
unioned AS (
  SELECT * FROM two UNION ALL SELECT * FROM pairs
)
SELECT sample_id, SPLIT_PART(filename, '_R1', 1) AS library_id,
       filename, filename2
FROM unioned
"""


@register("r1_legacy_prefix_pairs", _R1_LEGACY_SQL)
def r1_legacy_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.readpairs import legacy_prefix_pairs

    orders = load_table(spark, sf_dir, "orders")
    prefix = F.concat(
        F.lit("S"),
        F.col("o_custkey").cast("string"),
        F.lit("_L"),
        (F.col("o_orderkey") % 4).cast("string"),
    )
    f0 = orders.where(F.col("o_custkey") % 11 == 0).select(
        F.col("o_custkey").alias("sample_id"), prefix.alias("prefix")
    )
    files = f0.select(
        "sample_id",
        F.explode(
            F.array(
                F.concat("prefix", F.lit("_R1_001.fastq.gz")),
                F.concat("prefix", F.lit("_R2_001.fastq.gz")),
            )
        ).alias("file_name"),
    )
    samples = files.groupBy("sample_id").agg(
        F.collect_set("file_name").alias("files")
    )
    return legacy_prefix_pairs(samples, "sample_id", "files")


# ---------------------------------------------------------------------------
# P1 per-taxon projection policy (create_sheets_ultimate.py:102-264 via
# operators/taxon_policy.py): one fixture frame carrying a subset of
# the policy fields (plus a decoy column in no policy), projected per
# (sheet_type, taxon) and rendered as a '|'-joined row in policy order.
# The oracle states each taxon's EFFECTIVE column list explicitly, so a
# bug in the ordered intersection (wrong order, leaked decoy, missing
# vertebrate '*tissue' variant) breaks the hash.
# ---------------------------------------------------------------------------

_P1_SQL = """
WITH meta AS (
  SELECT c_name                                        AS sample_name,
         'Genus sp. ' || CAST(c_nationkey AS VARCHAR)  AS organism,
         'iso-' || CAST(c_custkey % 7 AS VARCHAR)      AS isolate,
         'cv-' || CAST(c_custkey % 3 AS VARCHAR)       AS cultivar,
         'br-' || CAST(c_custkey % 4 AS VARCHAR)       AS breed,
         'host-' || CAST(c_custkey % 2 AS VARCHAR)     AS host,
         'st-' || CAST(c_custkey % 5 AS VARCHAR)       AS strain,
         CASE WHEN c_custkey % 2 = 0 THEN 'male' ELSE 'female' END AS sex,
         'muscle'                                      AS tissue,
         'liver'                                       AS tissue_req,
         'D' || CAST(c_custkey % 12 AS VARCHAR)        AS collection_date,
         'USA: CA'                                     AS geo_loc_name,
         'County' || CAST(c_nationkey AS VARCHAR)      AS county,
         'CA'                                          AS state,
         CAST(c_custkey % 100 AS VARCHAR)              AS depth,
         CAST(c_custkey % 4000 AS VARCHAR)             AS altitude,
         CAST(c_custkey % 90 AS VARCHAR) || ' N'       AS lat_lon,
         'lib' || CAST(c_custkey AS VARCHAR)           AS library_id,
         'ILLUMINA'                                    AS platform,
         'f' || CAST(c_custkey AS VARCHAR) || '_R1.fq.gz' AS filename,
         'f' || CAST(c_custkey AS VARCHAR) || '_R2.fq.gz' AS filename2
  FROM customer WHERE c_custkey % 13 = 0
)
SELECT 'biosample' AS sheet_type, 'plant' AS taxon, sample_name,
       CONCAT_WS('|', sample_name, organism, isolate, cultivar,
                 collection_date, geo_loc_name, county, state, tissue,
                 lat_lon, sex) AS rendered,
       11 AS n_cols
FROM meta
UNION ALL
SELECT 'biosample', 'vertebrate', sample_name,
       CONCAT_WS('|', sample_name, organism, strain, isolate, breed,
                 cultivar, collection_date, geo_loc_name, county, state,
                 sex, tissue_req, lat_lon),
       13
FROM meta
UNION ALL
SELECT 'biosample', 'invertebrate', sample_name,
       CONCAT_WS('|', sample_name, organism, isolate, breed, host,
                 collection_date, geo_loc_name, county, state, tissue,
                 altitude, depth, lat_lon, sex),
       14
FROM meta
UNION ALL
SELECT 'sra', 'vertebrate', sample_name,
       CONCAT_WS('|', sample_name, library_id, organism, platform,
                 filename, filename2),
       6
FROM meta
"""


@register("p1_taxon_projection", _P1_SQL)
def p1_taxon_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.operators.taxon_policy import apply_column_policy

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    meta = cust.where(k % 13 == 0).select(
        F.col("c_name").alias("*sample_name"),
        F.concat(F.lit("Genus sp. "), F.col("c_nationkey").cast("string")).alias(
            "*organism"
        ),
        F.concat(F.lit("iso-"), (k % 7).cast("string")).alias("isolate"),
        F.concat(F.lit("cv-"), (k % 3).cast("string")).alias("cultivar"),
        F.concat(F.lit("br-"), (k % 4).cast("string")).alias("breed"),
        F.concat(F.lit("host-"), (k % 2).cast("string")).alias("host"),
        F.concat(F.lit("st-"), (k % 5).cast("string")).alias("strain"),
        F.when(k % 2 == 0, F.lit("male")).otherwise(F.lit("female")).alias("sex"),
        F.lit("muscle").alias("tissue"),
        F.lit("liver").alias("*tissue"),
        F.concat(F.lit("D"), (k % 12).cast("string")).alias("collection_date"),
        F.lit("USA: CA").alias("*geo_loc_name"),
        F.concat(F.lit("County"), F.col("c_nationkey").cast("string")).alias("County"),
        F.lit("CA").alias("State"),
        (k % 100).cast("string").alias("depth"),
        (k % 4000).cast("string").alias("altitude"),
        F.concat((k % 90).cast("string"), F.lit(" N")).alias("lat_lon"),
        F.concat(F.lit("lib"), k.cast("string")).alias("library_ID"),
        F.lit("ILLUMINA").alias("platform"),
        F.concat(F.lit("f"), k.cast("string"), F.lit("_R1.fq.gz")).alias("filename"),
        F.concat(F.lit("f"), k.cast("string"), F.lit("_R2.fq.gz")).alias("filename2"),
        F.lit("decoy").alias("internal_note"),  # in NO policy — must not leak
    )

    def sheet(sheet_type: str, taxon: str) -> DataFrame:
        proj = apply_column_policy(meta, sheet_type, taxon)
        return proj.select(
            F.lit(sheet_type).alias("sheet_type"),
            F.lit(taxon).alias("taxon"),
            F.col("`*sample_name`").alias("sample_name"),
            F.concat_ws("|", *[f"`{c}`" for c in proj.columns]).alias("rendered"),
            F.lit(len(proj.columns)).cast("int").alias("n_cols"),
        )

    return (
        sheet("biosample", "plant")
        .unionByName(sheet("biosample", "vertebrate"))
        .unionByName(sheet("biosample", "invertebrate"))
        .unionByName(sheet("sra", "vertebrate"))
    )


# ---------------------------------------------------------------------------
# Geo radius join: nearby specimen-collection points (coordinates
# derived deterministically from customer ids — the testdata schema
# carries no lat/long). The Spark side runs the 3×3 grid-blocked
# join (operators/geojoin.py); the oracle brute-forces ALL pairs, so
# a grid recall miss would fail the parity check — the oracle is
# strictly stronger than the implementation.
# ---------------------------------------------------------------------------

_GEO_SQL = """
WITH pts AS (
  SELECT c_custkey AS id,
         ((CAST(('0x' || SUBSTR(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
           % 120000) / 1000.0 - 60 AS lat,
         ((CAST(('0x' || SUBSTR(md5('lon:' || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
           % 360000) / 1000.0 - 180 AS lon
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND(2 * 6371.0088 * ATAN2(
         SQRT(POWER(SIN(RADIANS(b.lat - a.lat) / 2), 2)
              + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                * POWER(SIN(RADIANS(b.lon - a.lon) / 2), 2)),
         SQRT(1 - (POWER(SIN(RADIANS(b.lat - a.lat) / 2), 2)
              + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                * POWER(SIN(RADIANS(b.lon - a.lon) / 2), 2)))), 3) AS dist_km
FROM pts a JOIN pts b ON a.id < b.id
WHERE ROUND(2 * 6371.0088 * ATAN2(
         SQRT(POWER(SIN(RADIANS(b.lat - a.lat) / 2), 2)
              + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                * POWER(SIN(RADIANS(b.lon - a.lon) / 2), 2)),
         SQRT(1 - (POWER(SIN(RADIANS(b.lat - a.lat) / 2), 2)
              + COS(RADIANS(a.lat)) * COS(RADIANS(b.lat))
                * POWER(SIN(RADIANS(b.lon - a.lon) / 2), 2)))), 3) <= 25.0
"""


@register("geo_radius_pairs", _GEO_SQL)
def geo_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specimen points within 25 km of each other via the 3×3
    grid-blocked self-join (operators/geojoin.geo_radius_join).

    Reference parity: coordinate handling is the reference's bread
    and butter (utils/parse.py lat/long cleaning,
    create_sheets_ultimate.py masking/geocoding); proximity pairing
    is the locality-clustering query that follows. The brute-force
    oracle makes grid recall part of the checked contract.
    """
    from ccgp_data_wrangling_spark.operators.geojoin import geo_radius_join
    from ccgp_data_wrangling_spark.operators.sketches import _element_hash

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    lat = (
        F.pmod(
            _element_hash(
                F.concat(F.lit("lat:"), F.col("c_custkey").cast("string"))
            ),
            F.lit(120000),
        )
        / 1000.0
        - 60
    )
    lon = (
        F.pmod(
            _element_hash(
                F.concat(F.lit("lon:"), F.col("c_custkey").cast("string"))
            ),
            F.lit(360000),
        )
        / 1000.0
        - 180
    )
    pts = cust.select(
        F.col("c_custkey").alias("id"), lat.alias("lat"), lon.alias("lon")
    )
    return geo_radius_join(pts, "id", "lat", "lon", radius_km=25.0)


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: customer records + planted "re-entry"
# variants resolved into golden records (pipelines/resolution.py).
# The oracle replays blocking/scoring and closes the match graph
# with a recursive CTE — a different clustering algorithm arriving
# at the same fixpoint as the large-star/small-star operator.
# ---------------------------------------------------------------------------

_RESOLVE_SQL = """
WITH RECURSIVE recs AS (
  SELECT c_custkey AS rid, c_name AS nm, c_acctbal AS bal FROM customer
  UNION ALL
  SELECT c_custkey + 10000000, c_name || ' jr', c_acctbal
  FROM customer WHERE c_custkey % 3 = 0
),
base AS (
  SELECT rid, nm, bal,
         REGEXP_REPLACE(LOWER(TRIM(nm)), '[^0-9]', '', 'g') AS blk
  FROM recs
),
bsizes AS (SELECT blk, COUNT(*) AS n FROM base GROUP BY 1),
blocked AS (
  SELECT base.* FROM base JOIN bsizes USING (blk)
  WHERE n <= 50 AND blk != ''
),
toks AS (
  SELECT rid, blk, bal,
         LIST_DISTINCT(REGEXP_SPLIT_TO_ARRAY(TRIM(LOWER(nm)), '\\s+')) AS tok
  FROM blocked
),
cand AS (
  SELECT a.rid AS rid_a, b.rid AS rid_b,
         ROUND(ROUND(CAST(LEN(LIST_INTERSECT(a.tok, b.tok)) AS DOUBLE)
               / LEN(LIST_DISTINCT(a.tok || b.tok)), 4) * 0.8
               + CAST(a.bal = b.bal AS INT) * 0.2, 4) AS score
  FROM toks a JOIN toks b ON a.blk = b.blk AND a.rid < b.rid
),
edges AS (SELECT DISTINCT rid_a, rid_b FROM cand WHERE score >= 0.4),
sym AS (
  SELECT rid_a AS a, rid_b AS b FROM edges
  UNION
  SELECT rid_b, rid_a FROM edges
),
reach AS (
  SELECT a AS node, b AS r FROM sym
  UNION
  SELECT w.node, e.b FROM reach w JOIN sym e ON w.r = e.a
),
comp AS (SELECT node, LEAST(node, MIN(r)) AS component FROM reach GROUP BY node),
assigned AS (
  SELECT base.rid, base.nm, base.bal,
         COALESCE(comp.component, base.rid) AS entity_id
  FROM base LEFT JOIN comp ON comp.node = base.rid
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY entity_id
                               ORDER BY LENGTH(nm) DESC, nm DESC) AS rk
  FROM assigned
)
SELECT entity_id,
       CAST(COUNT(*) AS BIGINT) AS n_records,
       ANY_VALUE(CASE WHEN rk = 1 THEN nm END ORDER BY rk) AS canonical_name,
       MAX(bal) AS max_balance
FROM ranked GROUP BY entity_id
"""


@register("entity_resolution_golden", _RESOLVE_SQL)
def entity_resolution_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden records from dirty customer rows
    (pipelines/resolution.resolve_entities).

    Plants a re-entered variant (' jr' suffix, same balance) for
    every third customer; the pipeline must block on the name's digit
    key, score token-Jaccard + balance agreement, cluster matches,
    and elect one canonical record per entity — singletons included.
    """
    from ccgp_data_wrangling_spark.pipelines.resolution import (
        resolve_entities,
    )

    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("rec_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("balance"),
    )
    variants = cust.where(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + 10_000_000).alias("rec_id"),
        F.concat(F.col("c_name"), F.lit(" jr")).alias("name"),
        F.col("c_acctbal").alias("balance"),
    )
    return resolve_entities(base.unionByName(variants))


# ---------------------------------------------------------------------------
# Privacy pair: tokenized export + k-anonymity audit
# (operators/privacy.py — the generic companions of the reference's
# coordinate masking).
# ---------------------------------------------------------------------------

_TOKENIZE_SQL = """
SELECT c_custkey,
       md5('v1:' || c_name) AS c_name,
       c_nationkey, c_mktsegment
FROM customer
"""


@register("tokenize_customer_names", _TOKENIZE_SQL)
def tokenize_customer_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted deterministic tokenization of the identifying column —
    joins on c_name still work post-export, raw names are gone."""
    from ccgp_data_wrangling_spark.operators.privacy import tokenize_columns

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
    )
    return tokenize_columns(cust, ["c_name"], salt="v1")


_KANON_SQL = """
SELECT c_nationkey, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS group_size,
       CAST(8 - COUNT(*) AS INT) AS deficit
FROM customer
GROUP BY 1, 2
HAVING COUNT(*) < 8
"""


@register("k_anonymity_customer", _KANON_SQL)
def k_anonymity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier (nation, segment) groups below k=8 — the
    re-identifiable cells a de-identified export must suppress or
    generalize before publication."""
    from ccgp_data_wrangling_spark.operators.privacy import (
        k_anonymity_audit,
    )

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_audit(cust, ["c_nationkey", "c_mktsegment"], k=8)


# ---------------------------------------------------------------------------
# §3.3 biosample-sheet E2E: the FULL create_sheets_ultimate.py policy
# chain in one query — X11 reverse geocode → X9 geo_loc_name merge →
# X8 required fill → X10 coordinate masking (J10 flags) → X8 final
# fill — over a dirty fixture covering every policy branch (blank/
# present geo fields × protected/exclude flag combos × NaN coords).
# The component queries (x9/x10/x11) each verify one stage; this one
# verifies their COMPOSITION, where a wrong stage ordering (e.g.
# imputing before the merge) changes downstream branches.
# Reference: create_sheets_ultimate.py:280-533.
# ---------------------------------------------------------------------------

_E2E_FIXTURE_SQL = """
  SELECT c_name AS sample_name, c_custkey AS k,
         CASE c_custkey % 4 WHEN 1 THEN '' WHEN 2 THEN 'Point Reyes' ELSE NULL END AS geo0,
         CASE c_custkey % 3 WHEN 1 THEN 'Creek bank' WHEN 2 THEN '' ELSE NULL END  AS loc,
         CASE c_custkey % 5 WHEN 1 THEN 'Marin' WHEN 3 THEN 'Kern' WHEN 2 THEN '' ELSE NULL END AS county,
         CASE c_custkey % 7 WHEN 1 THEN 'California' WHEN 2 THEN 'Oregon' WHEN 3 THEN '' ELSE NULL END AS state,
         CASE c_custkey % 4 WHEN 0 THEN 'TRUE' WHEN 1 THEN 'TRUE' WHEN 2 THEN 'FALSE' ELSE NULL END AS protected,
         CASE c_custkey % 2 WHEN 0 THEN 'TRUE' ELSE 'FALSE' END AS exclude,
         CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE 32.0 + CAST(c_custkey % 180 AS DOUBLE) / 10.0 END AS lat,
         CASE WHEN c_custkey % 13 = 0 THEN NULL
              ELSE -125.0 + CAST(c_custkey % 160 AS DOUBLE) / 10.0 END AS long,
         CAST(c_custkey % 36 + 1 AS VARCHAR) AS township,
         CAST(c_custkey % 24 + 1 AS VARCHAR) AS range,
         CAST(c_custkey % 16 + 1 AS VARCHAR) AS section
  FROM customer
"""

_E2E_SQL = f"""
WITH fx AS ({_E2E_FIXTURE_SQL}),
staged AS (
  SELECT *,
         CASE WHEN lat IS NULL THEN 'NaN' ELSE printf('%.2f', lat) END AS lat_str,
         CASE WHEN long IS NULL THEN 'NaN' ELSE printf('%.2f', long) END AS long_str,
         CASE
           WHEN lat BETWEEN 32.5 AND 42.0 AND long BETWEEN -124.5 AND -114.1 THEN 'USA:California'
           WHEN lat BETWEEN 42.0 AND 46.3 AND long BETWEEN -124.6 AND -116.5 THEN 'USA:Oregon'
           WHEN lat BETWEEN 35.0 AND 42.0 AND long BETWEEN -120.0 AND -114.0 THEN 'USA:Nevada'
           WHEN lat BETWEEN 31.3 AND 37.0 AND long BETWEEN -114.8 AND -109.0 THEN 'USA:Arizona'
           WHEN lat BETWEEN 45.5 AND 49.0 AND long BETWEEN -124.8 AND -116.9 THEN 'USA:Washington'
           ELSE 'not provided'
         END AS geocoded,
         COALESCE(NULLIF(
           CASE
             WHEN (geo0 IS NULL OR geo0 = '') AND (loc IS NULL OR loc = '') THEN
               CASE
                 WHEN (county IS NULL OR county = '') AND (state IS NULL OR state = '') THEN 'missing'
                 WHEN (state IS NULL OR state = '') AND NOT (county IS NULL OR county = '') THEN 'missing'
                 WHEN NOT (county IS NULL OR county = '') AND NOT (state IS NULL OR state = '')
                   THEN 'USA: ' || state || ': ' || county
                 ELSE NULL
               END
             WHEN NOT (geo0 IS NULL OR geo0 = '') AND (loc IS NULL OR loc = '') THEN geo0
             WHEN (geo0 IS NULL OR geo0 = '') AND NOT (loc IS NULL OR loc = '') THEN loc
             ELSE geo0 || ':' || loc
           END, ''), 'not provided') AS existing_geo
  FROM fx
)
SELECT sample_name,
       COALESCE(NULLIF(
         CASE
           WHEN protected = 'TRUE' AND exclude = 'FALSE'
             THEN geocoded || ', ' || township || '-' || range || '-' || section
           WHEN (COALESCE(protected,'') = 'FALSE' AND exclude = 'FALSE')
                OR (COALESCE(protected,'') = '' AND COALESCE(exclude,'') = '')
             THEN CASE
                    WHEN NOT (existing_geo IS NULL OR existing_geo = '') AND geocoded <> 'not provided'
                      THEN CASE WHEN existing_geo = 'missing' THEN geocoded
                                ELSE geocoded || ', ' || existing_geo END
                    ELSE geocoded
                  END
           ELSE existing_geo
         END, ''), 'not provided') AS geo_loc_name,
       COALESCE(NULLIF(
         CASE
           WHEN protected = 'TRUE' AND exclude = 'TRUE' THEN 'not provided'
           WHEN (COALESCE(protected,'') = 'FALSE' AND exclude = 'FALSE')
                OR (COALESCE(protected,'') = '' AND COALESCE(exclude,'') = '')
             THEN CASE WHEN lat_str = 'NaN' AND long_str = 'NaN' THEN 'not provided'
                       ELSE lat_str || ',' || long_str END
           ELSE NULL
         END, ''), 'not provided') AS lat_lon
FROM staged
"""


@register("biosample_sheet_e2e", _E2E_SQL)
def biosample_sheet_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole §3.3 biosample-sheet policy chain composed end-to-end
    (reference create_sheets_ultimate.py:280-533): X11 reverse geocode
    feeds X10 masking, whose existing-geo input is the X9 merge after
    the X8 required fill, and both outputs get the final X8 fill. Pure
    when/otherwise codegen — zero shuffles, zero UDFs, scan → project."""
    from ccgp_data_wrangling_spark.operators.geocode import reverse_geocode_expr
    from ccgp_data_wrangling_spark.operators.sheets import (
        impute_required,
        mask_coordinates,
        merge_geo_loc_name,
    )

    cust = load_table(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    lat = F.when(k % 13 != 0, 32.0 + (k % 180).cast("double") / 10.0)
    long = F.when(k % 13 != 0, -125.0 + (k % 160).cast("double") / 10.0)
    fx = cust.select(
        F.col("c_name").alias("sample_name"),
        F.when(k % 4 == 1, "").when(k % 4 == 2, "Point Reyes").alias("geo0"),
        F.when(k % 3 == 1, "Creek bank").when(k % 3 == 2, "").alias("loc"),
        F.when(k % 5 == 1, "Marin").when(k % 5 == 3, "Kern").when(k % 5 == 2, "").alias("county"),
        F.when(k % 7 == 1, "California").when(k % 7 == 2, "Oregon").when(k % 7 == 3, "").alias("state"),
        F.when(k % 4 == 0, "TRUE").when(k % 4 == 1, "TRUE").when(k % 4 == 2, "FALSE").alias("protected"),
        F.when(k % 2 == 0, "TRUE").otherwise("FALSE").alias("exclude"),
        lat.alias("lat"),
        long.alias("long"),
        (k % 36 + 1).cast("string").alias("township"),
        (k % 24 + 1).cast("string").alias("range"),
        (k % 16 + 1).cast("string").alias("section"),
    )
    lat_str = F.when(F.col("lat").isNull(), "NaN").otherwise(
        F.format_string("%.2f", F.col("lat"))
    )
    long_str = F.when(F.col("long").isNull(), "NaN").otherwise(
        F.format_string("%.2f", F.col("long"))
    )
    staged = fx.select(
        "*",
        lat_str.alias("lat_str"),
        long_str.alias("long_str"),
        reverse_geocode_expr(F.col("lat"), F.col("long")).alias("geocoded"),
        impute_required(
            merge_geo_loc_name(
                F.col("geo0"), F.col("loc"), F.col("county"), F.col("state")
            )
        ).alias("existing_geo"),
    )
    geo_out, lat_lon_out = mask_coordinates(
        existing_geo=F.col("existing_geo"),
        protected=F.col("protected"),
        exclude=F.col("exclude"),
        lat_str=F.col("lat_str"),
        long_str=F.col("long_str"),
        township=F.col("township"),
        range_=F.col("range"),
        section=F.col("section"),
        geocoded=F.col("geocoded"),
    )
    return staged.select(
        "sample_name",
        impute_required(geo_out).alias("geo_loc_name"),
        impute_required(lat_lon_out).alias("lat_lon"),
    )


# ---------------------------------------------------------------------------
# §3.3 SRA-sheet E2E — the OTHER half of create_sheets_ultimate.py,
# composed as one driver-gated query (the biosample chain above is its
# twin): R1 adjacent read-pairing over the sorted .gz fileset → J3
# per-pair instrument lookup as a LEFT JOIN (the reference does a
# find_one per row, :387-447) → F8 uploaded filter → X8 SRA defaults.
# The fixture derives samples AND reads from customer arithmetic, with
# the .gz entries deliberately emitted R2-before-R1 plus a non-.gz
# distractor so the F6 suffix filter and the sort both carry weight;
# the oracle replays the pairing closed-form (pair j of sample k
# exists iff j < k % 3) and mirrors the join/filter/defaults in SQL.
# ---------------------------------------------------------------------------

_SRA_E2E_SQL = """
WITH pairs AS (
  SELECT c_name AS sample_name,
         c_custkey AS k,
         CASE c_custkey % 2 WHEN 0 THEN 'Neotoma fuscipes'
                            ELSE 'Rana draytonii' END AS organism,
         j
  FROM customer, (VALUES (0), (1)) AS t(j)
  WHERE j < c_custkey % 3
),
named AS (
  SELECT *,
         sample_name || '_L' || CAST(j AS VARCHAR) || '_R1.fastq.gz' AS filename,
         sample_name || '_L' || CAST(j AS VARCHAR) || '_R2.fastq.gz' AS filename2
  FROM pairs
)
SELECT sample_name AS "*sample_name",
       sample_name || '_L' || CAST(j AS VARCHAR) AS library_ID,
       'Whole genome sequencing of ' || organism AS title,
       CASE WHEN k % 4 = 0 THEN 'Illumina HiSeq X'
            ELSE 'Illumina NovaSeq 6000' END AS instrument_model,
       filename,
       filename2,
       'CCGP-' || CAST(k % 9 AS VARCHAR) AS ccgp_project_id,
       'WGS' AS library_strategy,
       'GENOMIC' AS library_source,
       'RANDOM' AS library_selection,
       'PAIRED' AS library_layout,
       'ILLUMINA' AS platform,
       'fastq' AS filetype
FROM named
WHERE NOT (k % 5 = 0 AND j = 0)
"""


@register("sra_sheet_e2e", _SRA_E2E_SQL)
def sra_sheet_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole §3.3 SRA-sheet chain composed end-to-end via
    pipelines/sheets.sra_sheet (reference create_sheets_ultimate.py:
    387-447): F6 .gz filter → array_sort → R1 adjacent pairing →
    J3 instrument left join → F8 uploaded filter → X8 SRA defaults.
    Samples with zero read pairs (k % 3 = 0) prove the fileset gate;
    reads rows exist for EVERY R1 so the join always participates,
    with instrument NULL for 3/4 of them so the X8 default coalesce
    fires on real rows."""
    from ccgp_data_wrangling_spark.pipelines.sheets import sra_sheet

    cust = load_table(spark, sf_dir, "customer")

    # sample k has k % 3 read pairs, j = 0 .. k % 3 - 1
    per_pair = "transform(array_repeat(0, CAST(c_custkey % 3 AS INT)), (_, j) -> {})"
    r1, r2 = (
        f"concat(c_name, '_L', CAST(j AS STRING), '_R{n}.fastq.gz')" for n in (1, 2)
    )
    samples = cust.selectExpr(
        "c_name AS sample_name",
        "CASE WHEN c_custkey % 2 = 0 THEN 'Neotoma fuscipes' "
        "ELSE 'Rana draytonii' END AS organism",
        "concat('CCGP-', CAST(c_custkey % 9 AS STRING)) AS ccgp_project_id",
        # a non-.gz distractor, then R2 before R1 on purpose:
        # sra_sheet's filter and array_sort must fix both
        "concat(array(concat(c_name, '_report.txt')), flatten("
        + per_pair.format(f"array({r2}, {r1})")
        + ")) AS files",
    )
    reads = cust.selectExpr(
        "inline("
        + per_pair.format(
            f"named_struct('file_name', {r1}, 'instrument_model', "
            "CASE WHEN c_custkey % 4 = 0 THEN 'Illumina HiSeq X' END, "
            "'uploaded_to_NCBI', "
            "CASE WHEN c_custkey % 5 = 0 AND j = 0 THEN 'yes' ELSE 'no' END)"
        )
        + ")"
    )
    return sra_sheet(samples, reads)
