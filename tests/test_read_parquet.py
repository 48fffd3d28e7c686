"""catalog.read_parquet: the schema it hands Spark equals Spark's own
inference, a changed file is re-read, and a repeat read — or any read of
a table Spark wrote — launches no Spark job.
"""

from __future__ import annotations

import os
import sys
import threading
from collections import OrderedDict
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ccgp_data_wrangling_spark import catalog
from ccgp_data_wrangling_spark.catalog import BENCH_TABLES, load_table, read_parquet
from ccgp_data_wrangling_spark.operators.merge import (
    ParquetTable,
    PartitionedParquetTable,
)
from tests.conftest import SF_CORRECT, jobs_in_group

_SCHEMA = "k long, g long, a array<string>, v double"


def _sql_frame(query):
    def write(spark, path):
        spark.sql(query).write.parquet(path)

    return write


def _varchar_table(spark, path):
    spark.sql(
        f"CREATE TABLE read_parquet_vc (vc VARCHAR(5), c CHAR(3)) "
        f"USING parquet LOCATION '{path}'"
    )
    try:
        spark.sql("INSERT INTO read_parquet_vc VALUES ('abc', 'x')")
    finally:
        spark.sql("DROP TABLE read_parquet_vc")


def _upserted(spark, path):
    t = ParquetTable(spark, path, "k")
    t.init(spark.sql("SELECT 1L AS k, array(1, 2) AS a"))
    t.upsert(spark.sql("SELECT 1L AS k, named_struct('x', 1.5D) AS added"))


def _diverging_footers(spark, path):
    spark.sql("SELECT 1 AS a, 'x' AS b").write.parquet(path)
    spark.sql("SELECT 2 AS a, 1.5D AS c").write.mode("append").parquet(path)


FRAMES = {
    "nested_non_null": _sql_frame(
        "SELECT named_struct('a', 1, 'b', array(1, 2)) AS s, "
        "array(named_struct('x', 'y')) AS arr, map('k', array(1.5D)) AS m"
    ),
    "decimal": _sql_frame(
        "SELECT CAST(1.25 AS DECIMAL(10, 3)) AS d, CAST(NULL AS DECIMAL(38, 0)) AS d38"
    ),
    "timestamps": _sql_frame(
        "SELECT timestamp_ntz'2020-01-01 00:00:00' AS ntz, "
        "timestamp'2020-01-01 00:00:00' AS ts, date'2020-01-01' AS dt"
    ),
    "binary": _sql_frame("SELECT X'00FF' AS b, CAST(NULL AS BINARY) AS nb"),
    "varchar": _varchar_table,
    "partitioned": lambda spark, path: spark.sql(
        "SELECT id AS k, id % 3 AS p, CAST(id AS STRING) AS v FROM range(6)"
    ).write.partitionBy("p").parquet(path),
    "upsert_schema_evolution": _upserted,
    "diverging_footers": _diverging_footers,
}


@pytest.mark.parametrize("frame", sorted(FRAMES))
def test_schema_matches_spark_inference(spark, tmp_path, frame):
    path = str(tmp_path / frame)
    FRAMES[frame](spark, path)
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(path).collect())


@pytest.mark.parametrize("name", BENCH_TABLES)
def test_base_tables_match_spark_inference(spark, name):
    path = os.path.join(SF_CORRECT, f"{name}.parquet")
    assert load_table(spark, SF_CORRECT, name).schema == spark.read.parquet(path).schema


def test_nanos_timestamps_follow_the_conf(spark, tmp_path):
    """A pyarrow-written TIMESTAMP(NANOS) column, as in ``events.ts``: the
    conf is part of the memo key, so flipping it never reuses the other
    setting's schema."""
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns")),
            }
        ),
        path,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        for value in ("true", "false", "true"):
            spark.conf.set(key, value)
            if value == "true":
                got = read_parquet(spark, path).schema
                assert got == spark.read.parquet(path).schema
                assert got["ts"].dataType == T.LongType()
                continue
            for read in (spark.read.parquet, partial(read_parquet, spark)):
                with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
                    read(path)
    finally:
        spark.conf.set(key, before)


def test_merge_schema_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "t")
    _diverging_footers(spark, path)
    key = "spark.sql.parquet.mergeSchema"
    try:
        for value, width in (("false", 2), ("true", 3), ("false", 2)):
            spark.conf.set(key, value)
            got = read_parquet(spark, path).schema
            assert got == spark.read.parquet(path).schema
            assert len(got) == width
    finally:
        spark.conf.unset(key)


def test_file_rewritten_in_place_is_reread(spark, tmp_path):
    path = str(tmp_path / "t")
    os.makedirs(path)
    part = os.path.join(path, "part-0.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), part)
    got = read_parquet(spark, path)
    assert got.columns == ["a", "b"]
    assert got.schema == spark.read.parquet(path).schema
    assert sorted(got.collect()) == [(1, "x"), (2, "y")]


def test_spark_listing_rules(tmp_path):
    """Hidden files and directories are skipped as Spark's listing skips
    them; summary files send the read to Spark unchanged."""
    root = tmp_path / "t"
    (root / "p=1").mkdir(parents=True)
    (root / "_temporary").mkdir()
    (root / "_temporary" / "part-9.parquet").write_bytes(b"x")
    for name in ("_SUCCESS", ".part-0.parquet.crc", "part-1.parquet._COPYING_"):
        (root / name).write_bytes(b"x")
    (root / "p=1" / "part-0.parquet").write_bytes(b"xy")
    files = catalog._data_files(str(root))
    assert [(os.path.relpath(f, root), size) for f, size, _ in files] == [
        (os.path.join("p=1", "part-0.parquet"), 2)
    ]
    assert catalog._data_files("file://" + str(root)) == files
    assert catalog._data_files(str(tmp_path / "missing")) is None
    assert catalog._data_files("s3a://bucket/t") is None
    (root / "_common_metadata").write_bytes(b"x")
    assert catalog._data_files(str(root)) is None


def test_concurrent_reads_share_the_memo(spark, tmp_path, monkeypatch):
    """More reader threads than cores over more paths than the memo
    holds: every read gets its own table's schema and the bound holds."""
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO", OrderedDict())
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_SIZE", 2)
    paths = {str(tmp_path / f"t{i}"): [f"c{j}" for j in range(i + 1)] for i in range(3)}
    for path, cols in paths.items():
        spark.range(1).selectExpr(*(f"id AS {c}" for c in cols)).write.parquet(path)
    errors = []

    def reader():
        try:
            for _ in range(10):
                for path, cols in paths.items():
                    assert read_parquet(spark, path).columns == cols
        except Exception as exc:  # noqa: BLE001 — reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(catalog._SCHEMA_MEMO) == 2


def test_second_load_table_launches_no_job(spark):
    sc = spark.sparkContext
    for name in ("customer", "events"):
        load_table(spark, SF_CORRECT, name)
        _, jobs = jobs_in_group(
            sc, f"test-read-{name}", lambda: load_table(spark, SF_CORRECT, name)
        )
        assert jobs == 0


def _ops(spark):
    src = spark.createDataFrame([(1, 1, ["z"], 9.0), (7, 1, ["q"], 7.0)], _SCHEMA)
    keys = src.select("k", "g")
    pulls = spark.createDataFrame([(1, 1, "x")], "k long, g long, val string")
    return {
        "upsert": lambda t: t.upsert(src),
        "insert_only": lambda t: t.insert_only(src),
        "array_union_set": lambda t: t.array_union_set(src, "a"),
        "array_pull": lambda t: t.array_pull(pulls, "a", "val"),
        "update_where_in": lambda t: t.update_where_in(keys, {"v": F.lit(-1.0)}),
        "delete_keys": lambda t: t.delete_keys(keys),
        "compact": lambda t: t.compact(),
    }


@pytest.mark.parametrize("partitioned", [False, True], ids=["plain", "partitioned"])
def test_read_after_every_write_launches_no_job(spark, tmp_path, partitioned):
    sc = spark.sparkContext
    base = spark.createDataFrame(
        [(k, k % 2, ["x"], float(k)) for k in range(6)], _SCHEMA
    ).repartition(3)
    path = str(tmp_path / "t")
    if partitioned:
        t = PartitionedParquetTable(spark, path, ["k", "g"], "g", partition_type="bigint")
    else:
        t = ParquetTable(spark, path, ["k", "g"])
    t.init(base)
    for name, op in [("init", lambda t: None), *_ops(spark).items()]:
        op(t)
        group = f"test-read-after-{name}-{partitioned}"
        _, jobs = jobs_in_group(sc, group, t.read)
        assert jobs == 0, name
        assert read_parquet(spark, path).schema == spark.read.parquet(path).schema, name


@pytest.mark.parametrize(
    "schema",
    [
        "k long, v string",
        T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("s", T.StructType([T.StructField("x", T.DoubleType())])),
                T.StructField("m", T.MapType(T.StringType(), T.ArrayType(T.LongType()))),
            ]
        ),
    ],
    ids=["ddl", "struct_type"],
)
def test_init_with_schema_reads_back_empty(spark, tmp_path, schema):
    t = ParquetTable(spark, str(tmp_path / "t"), "k")
    group = f"test-init-{type(schema).__name__}"
    _, jobs = jobs_in_group(spark.sparkContext, group, lambda: t.init(schema))
    assert jobs == 1  # the write; no job builds the empty frame
    df = t.read()
    expected = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    assert df.schema == expected
    assert df.count() == 0
