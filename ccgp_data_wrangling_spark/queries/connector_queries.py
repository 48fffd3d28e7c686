"""Driver-checkable connector & incremental queries.

Round-1 left the source/sink/incremental operators (S3/S4/S5, K1/K6,
T1/T2, M5) verified only by pytest. Each query here runs the REAL
connector path — write an actual TSV/xlsx/parquet artifact in a temp
dir, push it through the ingest/sink/ledger machinery, and return the
distributed result — while the DuckDB oracle states the equivalent
relation directly over the benchmark parquet (or ``generate_series``
for the synthetic-listing cases). So what the driver hash-checks is
the connector itself, not a simulation.

Reference parity:
* S5/K1 — utils/parse.py:145-151 dialect + create_sheets.py:300-309
  single-file contract.
* S4 — utils/parse.py:223-236 header probe loop (TSV and xlsx).
* S3/T2 — update_reads.py:24-56 (listing → suffix filter →
  WHEN-NOT-MATCHED INSERT discovery).
* T1 — update_metadata.py:24-44,97-105 (processed-file ledger with
  per-file error quarantine).
* M5 — update_projectID_reads_col.py:51-54 (update_many $in).
* K6 — update_reads_by_lane.py:179-341 (line-oriented text report).

All temp dirs are session-lifetime (atexit cleanup) so returned
DataFrames stay lazy/distributed — same policy as merge_queries.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.catalog import load_table
from ccgp_data_wrangling_spark.operators.merge import ParquetTable
from ccgp_data_wrangling_spark.queries import register
from ccgp_data_wrangling_spark.sources.ingest import (
    read_delimited,
    read_submitted_sheet,
    s3_listing_frame,
)
from ccgp_data_wrangling_spark.sources.sinks import (
    write_single_tsv,
    write_text_report,
)
from ccgp_data_wrangling_spark.sources.xlsx import write_xlsx
from ccgp_data_wrangling_spark.streaming.incremental import LedgerIngest


def _tmpdir(prefix: str) -> str:
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


# ---------------------------------------------------------------------------
# K1 + S5: single-file TSV sink → distributed TSV scan round-trip.
# The sink guarantees ONE file (submission-sheet contract); the read
# back is the distributed spark.read.csv path with the reference's
# dialect. Values come back as strings — typed here with try_cast,
# exactly like the cleaning pipeline types submitted sheets.
# ---------------------------------------------------------------------------

_K1_S5_SQL = """
SELECT n_nationkey AS nationkey, n_name AS name, n_regionkey AS regionkey
FROM nation
"""


@register("k1_s5_tsv_roundtrip", _K1_S5_SQL)
def k1_s5_tsv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    tmp = _tmpdir("k1_s5_")
    path = os.path.join(tmp, "nation.tsv")
    write_single_tsv(nation, path)
    back = read_delimited(spark, path)  # distributed csv scan, header row
    return back.select(
        F.col("n_nationkey").try_cast("int").alias("nationkey"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").try_cast("int").alias("regionkey"),
    )


# ---------------------------------------------------------------------------
# S4 (TSV): submitted sheet with junk preamble → header probe → read.
# The fixture is built from the supplier dim (bounded: suppkey <= 100),
# with the reference's exact shape: banner lines, a blank line, a
# key/value line, THEN the marker header row.
# ---------------------------------------------------------------------------

_S4_TSV_SQL = """
SELECT s_name AS sample_name, CAST(s_suppkey AS INT) AS suppkey,
       CAST(s_nationkey AS INT) AS nation_key
FROM supplier WHERE s_suppkey <= 100
"""


@register("s4_sheet_probe_tsv", _S4_TSV_SQL)
def s4_sheet_probe_tsv(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 100)
        .select("s_name", "s_suppkey", "s_nationkey")
        .orderBy("s_suppkey")
    )
    # sheet construction is per-file/driver-side by design (submitted
    # sheets arrive as small single files); bounded by the <=100 filter
    rows = supp.collect()
    tmp = _tmpdir("s4_tsv_")
    path = os.path.join(tmp, "submitted.tsv")
    with open(path, "w") as f:
        f.write("CCGP metadata submission\n")
        f.write("\n")
        f.write("version\t3\n")
        f.write("*sample_name\tsuppkey\tnation_key\n")
        for r in rows:
            f.write(f"{r.s_name}\t{r.s_suppkey}\t{r.s_nationkey}\n")
    sheet = read_submitted_sheet(spark, path)
    return sheet.select(
        F.col("*sample_name").alias("sample_name"),
        F.col("suppkey").try_cast("int").alias("suppkey"),
        F.col("nation_key").try_cast("int").alias("nation_key"),
    )


# ---------------------------------------------------------------------------
# S4 (xlsx): same probe-loop semantics over a real OOXML container
# written by the stdlib writer. Region table (5 rows) keeps the
# fixture tiny; numeric cells exercise the t="n" literal path.
# ---------------------------------------------------------------------------

_S4_XLSX_SQL = """
SELECT r_name AS sample_name, CAST(r_regionkey AS INT) AS region_key
FROM region
"""


@register("s4_sheet_probe_xlsx", _S4_XLSX_SQL)
def s4_sheet_probe_xlsx(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = (
        load_table(spark, sf_dir, "region")
        .select("r_name", "r_regionkey")
        .orderBy("r_regionkey")
    )
    rows = region.collect()  # 5 rows — xlsx fixture is driver-side by design
    tmp = _tmpdir("s4_xlsx_")
    path = os.path.join(tmp, "submitted.xlsx")
    body: list[list] = [
        ["CCGP metadata submission", None],
        [],
        ["version", 3],
        ["*sample_name", "region_key"],
    ]
    body += [[r.r_name, int(r.r_regionkey)] for r in rows]
    write_xlsx(path, {"Sheet1": body})
    sheet = read_submitted_sheet(spark, path)
    return sheet.select(
        F.col("*sample_name").alias("sample_name"),
        F.col("region_key").try_cast("int").alias("region_key"),
    )


# ---------------------------------------------------------------------------
# S4 (legacy .xls): the same probe-loop semantics over a real BIFF8 /
# CFB container written by the stdlib writer (sources/xls.py). Nation
# table keeps the fixture small; numeric cells exercise the NUMBER
# record path, repeated names the SST dedup path.
# ---------------------------------------------------------------------------

_S4_XLS_SQL = """
SELECT n_name AS sample_name, CAST(n_nationkey AS INT) AS nation_key,
       CAST(n_regionkey AS INT) AS region_key
FROM nation
"""


@register("s4_sheet_probe_xls", _S4_XLS_SQL)
def s4_sheet_probe_xls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.sources.xls import write_xls

    nation = (
        load_table(spark, sf_dir, "nation")
        .select("n_name", "n_nationkey", "n_regionkey")
        .orderBy("n_nationkey")
    )
    rows = nation.collect()  # 25 rows — .xls fixture is driver-side by design
    tmp = _tmpdir("s4_xls_")
    path = os.path.join(tmp, "submitted.xls")
    body: list[list] = [
        ["CCGP metadata submission", None],
        [],
        ["version", 3],
        ["*sample_name", "nation_key", "region_key"],
    ]
    body += [[r.n_name, int(r.n_nationkey), int(r.n_regionkey)] for r in rows]
    write_xls(path, {"Sheet1": body})
    sheet = read_submitted_sheet(spark, path)
    return sheet.select(
        F.col("*sample_name").alias("sample_name"),
        F.col("nation_key").try_cast("int").alias("nation_key"),
        F.col("region_key").try_cast("int").alias("region_key"),
    )


# ---------------------------------------------------------------------------
# S3 + F6 + T2/M2: object-listing scan → .gz suffix filter →
# insert-only discovery MERGE. The listing is synthetic (the boto3
# iterable is injected in production too); 1/3 of the keys are
# "already ingested" (batch 0), the rest land as batch 1. Noise keys
# without the suffix must be dropped before the MERGE. Re-running
# insert_only is a no-op — idempotency is what T2 is FOR, so the query
# runs the merge TWICE and the oracle still matches.
# ---------------------------------------------------------------------------

_N_OBJ = 400

_S3_T2_SQL = f"""
WITH ids AS (SELECT UNNEST(generate_series(0, {_N_OBJ - 1})) AS i)
SELECT 'reads/doc_' || LPAD(CAST(i AS VARCHAR), 5, '0') || '.fastq.gz'
         AS file_name,
       CAST(1000 + i AS BIGINT) AS size,
       CAST(CASE WHEN i % 3 = 0 THEN 0 ELSE 1 END AS INT) AS batch
FROM ids
"""


@register("s3_t2_discovery_merge", _S3_T2_SQL)
def s3_t2_discovery_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import datetime, timezone

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    objects = [
        (f"reads/doc_{i:05d}.fastq.gz", 1000 + i, base) for i in range(_N_OBJ)
    ] + [("reads/checksums.txt", 10, base), ("reads/manifest.csv", 20, base)]
    listing = s3_listing_frame(spark, objects)
    gz = listing.where(F.col("key").endswith(".fastq.gz")).select(
        F.col("key").alias("file_name"), F.col("size").alias("size")
    )
    pre = (
        spark.range(_N_OBJ)
        .where(F.col("id") % 3 == 0)
        .select(
            F.format_string("reads/doc_%05d.fastq.gz", F.col("id").cast("int"))
            .alias("file_name"),
            (F.lit(1000) + F.col("id")).alias("size"),
            F.lit(0).alias("batch"),
        )
    )
    tmp = _tmpdir("s3_t2_")
    tbl = ParquetTable(spark, f"{tmp}/objects", "file_name")
    tbl.init(pre)
    discovered = gz.withColumn("batch", F.lit(1))
    tbl.insert_only(discovered)
    tbl.insert_only(discovered)  # idempotent re-run: must change nothing
    return tbl.read().select("file_name", "size", "batch")


# ---------------------------------------------------------------------------
# T1: ledger-gated per-file ingest with error quarantine. nation is
# split into 5 per-region sheet files; region 0 is already in the
# ledger (skipped), region 3's file is corrupt (no marker header →
# quarantined). The parsed union is regions 1, 2, 4.
# ---------------------------------------------------------------------------

_T1_SQL = """
SELECT n_name AS sample_name, CAST(n_nationkey AS INT) AS nationkey,
       CAST(n_regionkey AS INT) AS regionkey
FROM nation WHERE n_regionkey IN (1, 2, 4)
"""


@register("t1_ledger_ingest", _T1_SQL)
def t1_ledger_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation").select(
        "n_name", "n_nationkey", "n_regionkey"
    )
    rows = nation.orderBy("n_nationkey").collect()  # 25 rows, fixture build
    tmp = _tmpdir("t1_ledger_")
    for rk in range(5):
        path = os.path.join(tmp, f"r{rk}.tsv")
        with open(path, "w") as f:
            f.write("submission batch\n\n")
            if rk != 3:  # region 3: corrupt sheet (marker header missing)
                f.write("*sample_name\tnationkey\tregionkey\n")
            for r in rows:
                if r.n_regionkey == rk:
                    f.write(f"{r.n_name}\t{r.n_nationkey}\t{r.n_regionkey}\n")
    ledger = ParquetTable(spark, f"{tmp}/ledger", "file_name")
    ledger.init(
        spark.createDataFrame(
            [(os.path.join(tmp, "r0.tsv"), None)],
            "file_name string, error string",
        ).withColumn("processed_at", F.current_timestamp())
    )
    discovered = spark.createDataFrame(
        [(os.path.join(tmp, f"r{rk}.tsv"),) for rk in range(5)],
        "file_name string",
    )
    ingest = LedgerIngest(spark, ledger)
    parsed, n_ok, n_failed = ingest.run(
        discovered, lambda fname: read_submitted_sheet(spark, fname)
    )
    assert parsed is not None and (n_ok, n_failed) == (3, 1), (n_ok, n_failed)
    return parsed.select(
        F.col("*sample_name").alias("sample_name"),
        F.col("nationkey").try_cast("int").alias("nationkey"),
        F.col("regionkey").try_cast("int").alias("regionkey"),
    )


# ---------------------------------------------------------------------------
# M5: update_many($in) — set columns on every row whose key is in a
# driven set, leave the rest untouched.
# ---------------------------------------------------------------------------

_M5_SQL = """
SELECT c_custkey AS k, c_name AS name,
       ROUND(CASE WHEN c_custkey % 5 = 0
                  THEN ROUND(c_acctbal, 2) + c_custkey % 100
                  ELSE ROUND(c_acctbal, 2) END, 2) AS bal
FROM customer
"""


@register("m5_update_where_in", _M5_SQL)
def m5_update_where_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    target = cust.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("bal"),
    )
    keys = cust.where(F.col("c_custkey") % 5 == 0).select(
        F.col("c_custkey").alias("k"),
        (F.col("c_custkey") % 100).alias("bonus"),
    )
    tmp = _tmpdir("m5_update_")
    tbl = ParquetTable(spark, f"{tmp}/t", "k")
    tbl.init(target)
    tbl.update_where_in(
        keys, {"bal": F.round(F.col("t.bal") + F.col("s.bonus"), 2)}
    )
    return tbl.read()


# ---------------------------------------------------------------------------
# K6: line-oriented text report sink → read back and re-parse. The
# report lines are the reference's "<name>: <n> files" shape
# (update_reads_by_lane.py:179-341); the oracle rebuilds the same
# strings in SQL so the driver hashes the exact report content.
# ---------------------------------------------------------------------------

_K6_SQL = """
SELECT r_name || ': ' || CAST(cnt AS VARCHAR) || ' nations' AS line
FROM (
  SELECT r.r_name, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name
)
"""


@register("k6_text_report_roundtrip", _K6_SQL)
def k6_text_report_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    lines = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("cnt"))
        .select(F.concat_ws("", "r_name", F.lit(": "), "cnt", F.lit(" nations"))
                .alias("value"))
    )
    tmp = _tmpdir("k6_report_")
    path = os.path.join(tmp, "report.txt")
    write_text_report(lines, path)
    return spark.read.text(path).select(F.col("value").alias("line"))


# ---------------------------------------------------------------------------
# T3/T4: scheduled incremental run as a Structured Streaming
# AvailableNow drain with a checkpoint. Click events are staged as a
# 3-file parquet drop zone, readStream'd, filtered/projected per
# micro-batch, and MERGEd insert-only into a keyed table. A second
# AvailableNow run against the SAME checkpoint must process nothing
# (exactly-once gating) — the query runs both and the oracle still
# matches, so the checkpoint semantics are what the driver verifies.
# ---------------------------------------------------------------------------

_T3_SQL = """
SELECT event_id, user_id, ROUND(value, 2) AS value
FROM events WHERE event_type = 'click'
"""


@register("t3_stream_merge_availablenow", _T3_SQL)
def t3_stream_merge_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.streaming.incremental import fold_stream

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    tmp = _tmpdir("t3_stream_")
    src_dir = os.path.join(tmp, "drop")
    events.repartition(3).write.mode("overwrite").parquet(src_dir)

    def run_once() -> None:
        stream = (
            spark.readStream.schema(
                "event_id long, user_id long, event_type string, value double"
            ).parquet(src_dir)
        )
        q = fold_stream(
            stream,
            lambda b: tbl.insert_only(
                b.where(F.col("event_type") == "click").select(
                    "event_id", "user_id", F.round("value", 2).alias("value")
                )
            ),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
        )
        q.awaitTermination()

    tbl = ParquetTable(spark, os.path.join(tmp, "clicks"), "event_id")
    tbl.init("event_id long, user_id long, value double")
    run_once()
    run_once()  # same checkpoint: fully caught up, must be a no-op
    return tbl.read()


# ---------------------------------------------------------------------------
# S-family extension: JSONL — the de-facto LLM corpus interchange
# format. The round trip writes REAL gzip shards (one file per
# partition — the per-file parallelism unit gzip imposes), reads
# them back with the REQUIRED explicit schema, and aggregates; the
# oracle states the same relation over the source parquet, so a
# value lost or retyped anywhere in the JSON round trip breaks the
# hash (dates/floats exercise the serialization corners).
# ---------------------------------------------------------------------------

_JSONL_SQL = """
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       MIN(doc_id) AS first_doc
FROM documents GROUP BY lang
"""


@register("jsonl_roundtrip_ingest", _JSONL_SQL)
def jsonl_roundtrip_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    tmp = _tmpdir("jsonl_rt_")
    path = os.path.join(tmp, "docs")
    write_jsonl(docs, path, compression="gzip", shards=4)
    back = read_jsonl(
        spark, path,
        "doc_id bigint, text string, lang string, n_chars bigint",
        mode="FAILFAST",
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars_total"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# JSONL corrupt-record quarantine: real crawled JSONL always carries
# a malformed tail. The fixture lays down text shards where every
# doc_id % 5 == 2 line is truncated mid-object; the PERMISSIVE read
# must capture EXACTLY those lines in _corrupt_record (parsed columns
# null) and parse every other line fully. The oracle replays the
# plant arithmetic — over- or under-quarantining breaks the hash.
# ---------------------------------------------------------------------------

_JSONL_CORRUPT_SQL = """
SELECT CAST(COUNT(*) FILTER (WHERE doc_id % 5 <> 2) AS BIGINT)
         AS n_parsed,
       CAST(COUNT(*) FILTER (WHERE doc_id % 5 = 2) AS BIGINT)
         AS n_corrupt,
       CAST(SUM(doc_id) FILTER (WHERE doc_id % 5 <> 2) AS BIGINT)
         AS id_sum
FROM documents
"""


@register("jsonl_corrupt_records", _JSONL_CORRUPT_SQL)
def jsonl_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ccgp_data_wrangling_spark.sources.jsonl import read_jsonl

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lines = docs.select(
        F.when(
            F.col("doc_id") % 5 == 2,
            # truncated mid-object: unterminated string, no brace
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"),
                     F.lit(', "lang": "')),
        ).otherwise(
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"),
                     F.lit(', "lang": "'), F.col("lang"), F.lit('"}')),
        ).alias("value")
    )
    tmp = _tmpdir("jsonl_bad_")
    path = os.path.join(tmp, "shards")
    lines.repartition(4).write.mode("overwrite").text(path)
    back = read_jsonl(
        spark, path, "doc_id bigint, lang string", keep_corrupt=True
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias(
            "n_parsed"
        ),
        F.count("_corrupt_record").alias("n_corrupt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("doc_id"))
        ).alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# S-family extension: ORC — Spark's other native columnar format
# (Hive-ecosystem interchange). The round trip writes a partitioned
# ORC table (partition column = order priority), reads it back and
# aggregates WITH a partition-pruning filter — the scan must read
# only the matching directories, which .explain checks in tests.
# ---------------------------------------------------------------------------

_ORC_SQL = """
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
"""


@register("orc_roundtrip_scan", _ORC_SQL)
def orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    tmp = _tmpdir("orc_rt_")
    path = os.path.join(tmp, "orders_orc")
    orders.write.mode("overwrite").partitionBy(
        "o_orderpriority"
    ).orc(path)
    back = spark.read.orc(path)
    return (
        back.where(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
