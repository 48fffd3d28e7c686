"""MERGE-on-parquet tests (M1-M6), including the idempotency property
the reference relies on (update_reads.py:19).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import ParquetTable

# every table read below is checked against Spark's schema inference
pytestmark = pytest.mark.usefixtures("read_schema_parity")


@pytest.fixture
def tbl(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "samples"), key="sample_name")
    t.init(
        spark.createDataFrame(
            [
                ("S1", ["a.gz"], 10, "p1"),
                ("S2", None, None, "p1"),
                ("S3", ["b.gz", "c.gz"], 30, "p2"),
            ],
            "sample_name string, files array<string>, filesize_sum long, project string",
        )
    )
    return t


def _rows(t):
    return {
        r["sample_name"]: (r["files"], r["filesize_sum"], r["project"])
        for r in t.read().collect()
    }


def test_upsert(spark, tbl):
    src = spark.createDataFrame(
        [("S1", 99), ("S9", 9)], "sample_name string, filesize_sum long"
    )
    tbl.upsert(src)
    rows = _rows(tbl)
    assert rows["S1"] == (["a.gz"], 99, "p1")  # updated, others kept
    assert rows["S9"] == (None, 9, None)  # inserted
    assert len(rows) == 4
    tbl.upsert(src)  # idempotent
    assert _rows(tbl) == rows


def test_insert_only(spark, tbl):
    src = spark.createDataFrame(
        [("S1", ["x.gz"], 999, "px"), ("S4", ["d.gz"], 40, "p3")],
        "sample_name string, files array<string>, filesize_sum long, project string",
    )
    tbl.insert_only(src)
    rows = _rows(tbl)
    assert rows["S1"] == (["a.gz"], 10, "p1")  # existing untouched
    assert rows["S4"] == (["d.gz"], 40, "p3")
    tbl.insert_only(src)
    assert _rows(tbl) == rows


def test_insert_only_repeated_new_key_inserts_once(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), "k")
    t.init(spark.createDataFrame([(1, "a")], "k long, v string"))
    src = spark.createDataFrame([(2, "x"), (2, "y"), (1, "z")], "k long, v string")
    t.insert_only(src)
    rows = sorted(tuple(r) for r in t.read().collect())
    assert [k for k, _ in rows] == [1, 2]
    assert rows[0] == (1, "a") and rows[1][1] in ("x", "y")
    t.insert_only(src)  # re-run: a no-op
    assert sorted(tuple(r) for r in t.read().collect()) == rows


def test_array_union_set(spark, tbl):
    src = spark.createDataFrame(
        [("S1", ["a.gz", "n.gz"], 55), ("S2", ["m.gz"], 5), ("S9", ["z.gz"], 1)],
        "sample_name string, files array<string>, filesize_sum long",
    )
    tbl.array_union_set(
        src, "files", {"filesize_sum": F.col("s.filesize_sum")}
    )
    rows = _rows(tbl)
    assert rows["S1"] == (["a.gz", "n.gz"], 55, "p1")  # union, no dup
    assert rows["S2"] == (["m.gz"], 5, "p1")  # null array unioned
    assert rows["S3"] == (["b.gz", "c.gz"], 30, "p2")  # untouched
    assert "S9" not in rows  # no insert on this op
    tbl.array_union_set(src, "files", {"filesize_sum": F.col("s.filesize_sum")})
    assert _rows(tbl) == rows


def test_array_pull(spark, tbl):
    pulls = spark.createDataFrame(
        [("S3", "b.gz"), ("S1", "zzz.gz")], "sample_name string, v string"
    )
    tbl.array_pull(pulls, "files", "v")
    rows = _rows(tbl)
    assert rows["S3"] == (["c.gz"], 30, "p2")
    assert rows["S1"] == (["a.gz"], 10, "p1")  # pulling absent value: no-op
    tbl.array_pull(pulls, "files", "v")
    assert _rows(tbl) == rows


def test_update_where_in(spark, tbl):
    keys = spark.createDataFrame([("S1",), ("S2",)], "sample_name string")
    tbl.update_where_in(keys, {"project": F.lit("pX")})
    rows = _rows(tbl)
    assert rows["S1"][2] == "pX" and rows["S2"][2] == "pX"
    assert rows["S3"][2] == "p2"


def test_delete_keys(spark, tbl):
    keys = spark.createDataFrame([("S2",), ("S404",)], "sample_name string")
    tbl.delete_keys(keys)
    rows = _rows(tbl)
    assert set(rows) == {"S1", "S3"}
    tbl.delete_keys(keys)
    assert set(_rows(tbl)) == {"S1", "S3"}


def test_array_union_set_struct_elements(spark, tmp_path):
    """$addToSet of (file, ts) STRUCT tuples (update_metadata.py:78-85
    workflow_progress): element equality is full-struct equality —
    same file with a different count is a distinct element, identical
    tuples dedup."""
    schema = (
        "project_id string, "
        "entries array<struct<file:string,n:int>>"
    )
    tbl = ParquetTable(spark, str(tmp_path / "wp"), "project_id")
    tbl.init(
        spark.createDataFrame(
            [("p1", [("a.xlsx", 1), ("b.xlsx", 2)]), ("p2", [("c.xlsx", 1)])],
            schema,
        )
    )
    src = spark.createDataFrame(
        # p1: one duplicate tuple, one same-file-new-count, one new file
        [("p1", [("a.xlsx", 1), ("a.xlsx", 3), ("d.xlsx", 1)])],
        schema,
    )
    tbl.array_union_set(src, "entries")
    rows = {
        r.project_id: sorted((e.file, e.n) for e in r.entries)
        for r in tbl.read().collect()
    }
    assert rows["p1"] == [("a.xlsx", 1), ("a.xlsx", 3), ("b.xlsx", 2), ("d.xlsx", 1)]
    assert rows["p2"] == [("c.xlsx", 1)]
    # idempotent
    tbl.array_union_set(src, "entries")
    rows2 = {
        r.project_id: sorted((e.file, e.n) for e in r.entries)
        for r in tbl.read().collect()
    }
    assert rows2 == rows


def test_upsert_schema_evolution_adds_new_column(spark, tmp_path):
    """A set_col the target has never seen is ADDED (Mongo's
    schemaless $set with a new field): updated and inserted rows carry
    it, untouched rows get NULL."""
    from ccgp_data_wrangling_spark.operators.merge import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"), key="k")
    t.init(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"))
    t.upsert(
        spark.createDataFrame(
            [(2, "B", "tag2"), (3, "C", "tag3")],
            "k long, v string, tag string",
        )
    )
    got = {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert got == {1: ("a", None), 2: ("B", "tag2"), 3: ("C", "tag3")}
    # idempotent replay with the evolved schema
    t.upsert(
        spark.createDataFrame(
            [(2, "B", "tag2"), (3, "C", "tag3")],
            "k long, v string, tag string",
        )
    )
    assert {r["k"]: (r["v"], r["tag"]) for r in t.read().collect()} == got
