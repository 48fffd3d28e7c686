"""PartitionedParquetTable: merge ops equal the unpartitioned table's
results, while physically touching only the partitions the source
addresses (the 100 TB property: merge cost ∝ update footprint).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import (
    ParquetTable,
    PartitionedParquetTable,
)

# every table read below is checked against Spark's schema inference
pytestmark = pytest.mark.usefixtures("read_schema_parity")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _files(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[p] = os.stat(p).st_mtime_ns
    return out


def _mk(spark, tmp_path, name, partitioned):
    base = spark.createDataFrame(
        [(p, i, float(p * 100 + i)) for p in range(4) for i in range(5)],
        "p int, k int, v double",
    )
    if partitioned:
        t = PartitionedParquetTable(
            spark, str(tmp_path / name), ["p", "k"], "p", partition_type="int"
        )
    else:
        t = ParquetTable(spark, str(tmp_path / name), ["p", "k"])
    t.init(base)
    return t


def test_partitioned_results_equal_unpartitioned(spark, tmp_path):
    flat = _mk(spark, tmp_path, "flat", False)
    part = _mk(spark, tmp_path, "part", True)
    src = spark.createDataFrame(
        [(1, 2, -1.0), (1, 99, -2.0), (3, 0, -3.0), (5, 1, -4.0)],
        "p int, k int, v double",
    )
    pulls = spark.createDataFrame([(1, 2)], "p int, k int")
    for t in (flat, part):
        t.upsert(src)
        t.delete_keys(pulls)
    assert _rows(flat.read().select("p", "k", "v")) == _rows(
        part.read().select("p", "k", "v")
    )


def test_untouched_partitions_not_rewritten(spark, tmp_path):
    part = _mk(spark, tmp_path, "part", True)
    root = str(tmp_path / "part")
    before = _files(root)
    untouched_before = {
        p: m for p, m in before.items() if "/p=1/" not in p and "/p=5/" not in p
    }
    src = spark.createDataFrame(
        [(1, 2, -1.0), (5, 0, -2.0)], "p int, k int, v double"
    )
    part.upsert(src)
    after = _files(root)
    untouched_after = {
        p: m for p, m in after.items() if "/p=1/" not in p and "/p=5/" not in p
    }
    # byte-for-byte identical files (same paths, same mtimes) outside
    # the two touched partitions; p=1 rewritten, p=5 created
    assert untouched_before == untouched_after
    assert any("/p=5/" in p for p in after)
    assert {p for p in after if "/p=1/" in p} != {
        p for p in before if "/p=1/" in p
    }


def test_delete_empties_partition_directory(spark, tmp_path):
    part = _mk(spark, tmp_path, "part", True)
    root = str(tmp_path / "part")
    keys = spark.createDataFrame(
        [(2, i) for i in range(5)], "p int, k int"
    )
    part.delete_keys(keys)
    assert not os.path.exists(os.path.join(root, "p=2"))
    assert _rows(part.read().select("p").distinct()) == [(0,), (1,), (3,)]


def test_partitioned_array_union_and_pull(spark, tmp_path):
    base = spark.createDataFrame(
        [(p, i, ["a"]) for p in range(3) for i in range(3)],
        "p int, k int, files array<string>",
    )
    t = PartitionedParquetTable(
        spark, str(tmp_path / "arr"), ["p", "k"], "p", partition_type="int"
    )
    t.init(base)
    src = spark.createDataFrame(
        [(0, 1, ["b", "a"])], "p int, k int, files array<string>"
    )
    t.array_union_set(src, "files")
    pulls = spark.createDataFrame([(0, 1, "a")], "p int, k int, f string")
    t.array_pull(pulls, "files", "f")
    got = {
        (r.p, r.k): sorted(r.files) for r in t.read().collect()
    }
    assert got[(0, 1)] == ["b"]
    assert got[(1, 1)] == ["a"]


def test_partition_key_constraint_enforced(spark, tmp_path):
    import pytest

    with pytest.raises(ValueError):
        PartitionedParquetTable(spark, str(tmp_path / "x"), "k", "p")


def test_null_partition_value_rejected(spark, tmp_path):
    import pytest

    part = _mk(spark, tmp_path, "part", True)
    src = spark.createDataFrame(
        [(None, 1, 0.0)], "p int, k int, v double"
    )
    with pytest.raises(ValueError, match="null partition"):
        part.upsert(src)


def test_partitioned_insert_only_is_idempotent(spark, tmp_path):
    part = _mk(spark, tmp_path, "part", True)
    src = spark.createDataFrame(
        [(0, 0, -9.0), (7, 0, -8.0)], "p int, k int, v double"
    )
    part.insert_only(src)
    part.insert_only(src)
    got = {(r.p, r.k): r.v for r in part.read().collect()}
    assert got[(0, 0)] == 0.0  # existing row untouched
    assert got[(7, 0)] == -8.0  # inserted once
    assert len(got) == 21


def test_touched_partition_filter_reaches_scan(spark, tmp_path):
    """_target_for's isin becomes PartitionFilters — untouched
    partition directories are excluded at the file listing."""
    import contextlib
    import io

    part = _mk(spark, tmp_path, "part", True)
    src = spark.createDataFrame([(1, 2, -1.0)], "p int, k int, v double")
    tgt = part._target_for(src)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        tgt.explain()
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "p" in plan.split("PartitionFilters", 1)[1][:120]
    assert _rows(tgt.select("p").distinct()) == [(1,)]


def test_multilevel_partitioning(spark, tmp_path):
    """Two-level layout (p/q): merge touches only the addressed leaf
    directories; other leaves — including siblings under the same
    top-level dir — are byte-identical."""
    from ccgp_data_wrangling_spark.operators.merge import (
        PartitionedParquetTable,
    )

    base = spark.createDataFrame(
        [(p, q, i, float(p * 100 + q * 10 + i))
         for p in range(2) for q in range(3) for i in range(4)],
        "p int, q int, k int, v double",
    )
    root = str(tmp_path / "ml")
    t = PartitionedParquetTable(
        spark, root, ["p", "q", "k"], ["p", "q"],
        partition_type={"p": "int", "q": "int"},
    )
    t.init(base)
    before = _files(root)
    src = spark.createDataFrame(
        [(0, 1, 2, -1.0), (1, 9, 0, -2.0)], "p int, q int, k int, v double"
    )
    t.upsert(src)
    after = _files(root)

    def leafless(files, *leaves):
        return {
            p: m for p, m in files.items()
            if not any(l in p for l in leaves)
        }
    assert leafless(before, "/p=0/q=1/", "/p=1/q=9/") == leafless(
        after, "/p=0/q=1/", "/p=1/q=9/"
    )
    assert any("/p=1/q=9/" in p for p in after)  # new leaf created
    got = {(r.p, r.q, r.k): r.v for r in t.read().collect()}
    assert got[(0, 1, 2)] == -1.0
    assert got[(1, 9, 0)] == -2.0
    assert got[(0, 0, 0)] == 0.0
    assert len(got) == 25

    # emptying one leaf removes only that directory
    keys = spark.createDataFrame(
        [(0, 2, i) for i in range(4)], "p int, q int, k int"
    )
    t.delete_keys(keys)
    import os as _os
    assert not _os.path.exists(_os.path.join(root, "p=0", "q=2"))
    assert _os.path.exists(_os.path.join(root, "p=0", "q=1"))
    assert len(t.read().collect()) == 21


def test_failed_swap_rolls_back_every_partition(spark, tmp_path, monkeypatch):
    """A rename failure mid-commit restores the exact pre-merge table:
    no partition may be left updated while others are not."""
    import ccgp_data_wrangling_spark.operators.merge as merge_mod

    t = _mk(spark, tmp_path, "rollback", True)
    before = _rows(t.read().select("p", "k", "v"))

    real_rename = os.rename
    state = {"installs": 0}

    def failing_rename(src, dst):
        # fail on the SECOND fresh-leaf install (dst is a live leaf and
        # src comes from the tmp directory)
        if ".tmp-" in src and ".tmp-" not in dst:
            state["installs"] += 1
            if state["installs"] == 2:
                raise OSError("injected rename failure")
        return real_rename(src, dst)

    monkeypatch.setattr(merge_mod.os, "rename", failing_rename)
    src = spark.createDataFrame(
        [(0, 0, -10.0), (1, 0, -11.0), (2, 0, -12.0)], "p int, k int, v double"
    )
    try:
        t.upsert(src)
        raised = False
    except OSError:
        raised = True
    assert raised
    monkeypatch.setattr(merge_mod.os, "rename", real_rename)
    assert _rows(t.read().select("p", "k", "v")) == before
    # no stranded aside/tmp dirs after rollback (tmp is a sibling of
    # the table root; leaf asides live inside it)
    leftovers = [
        os.path.join(dirpath, d)
        for root in (os.path.dirname(t.path), t.path)
        for dirpath, dirs, _files in os.walk(root)
        for d in dirs
        if ".tmp-" in d or ".old-" in d
    ]
    assert leftovers == []
    # the idempotent rerun then applies cleanly
    t.upsert(src)
    after = dict(((r[0], r[1]), r[2]) for r in t.read().select("p", "k", "v").collect())
    assert after[(0, 0)] == -10.0 and after[(1, 0)] == -11.0 and after[(2, 0)] == -12.0


def test_boolean_partition_value_swaps_leaf(spark, tmp_path):
    """Spark renders a boolean partition value into the path as
    'true'/'false'; Python str() says 'True'/'False'. The canonical
    matching layer must meet Spark's rendering, or the upsert
    silently no-ops for the partition (the pre-fix failure mode)."""
    t = PartitionedParquetTable(
        spark, str(tmp_path / "boolpart"), ["flag", "k"], "flag",
        partition_type="boolean",
    )
    t.init(
        spark.createDataFrame(
            [(True, 1, 1.0), (False, 1, 2.0)], "flag boolean, k int, v double"
        )
    )
    t.upsert(
        spark.createDataFrame(
            [(True, 1, -9.0)], "flag boolean, k int, v double"
        )
    )
    got = {(r["flag"], r["k"]): r["v"] for r in t.read().collect()}
    assert got[(True, 1)] == -9.0  # the update actually landed
    assert got[(False, 1)] == 2.0  # untouched partition intact
    # and the leaf on disk is Spark's rendering, not Python's
    assert os.path.isdir(os.path.join(t.path, "flag=true"))


def test_timestamp_partition_fraction_rendering(spark, tmp_path):
    """A timestamp partition with a fractional second whose
    microseconds end in zeros: Spark's path rendering trims trailing
    zeros ('…00.123'), Python str() pads to six digits ('…00.123000').
    The canon layer must trim the same way for the leaf swap to hit."""
    import datetime as _dt

    ts_a = _dt.datetime(2024, 1, 1, 10, 0, 0, 123000)
    ts_b = _dt.datetime(2024, 1, 2, 11, 0, 0)
    t = PartitionedParquetTable(
        spark, str(tmp_path / "tspart"), ["ts", "k"], "ts",
        partition_type="timestamp",
    )
    t.init(
        spark.createDataFrame(
            [(ts_a, 1, 1.0), (ts_b, 1, 2.0)], "ts timestamp, k int, v double"
        )
    )
    t.upsert(
        spark.createDataFrame(
            [(ts_a, 1, -9.0), (ts_a, 2, -8.0)],
            "ts timestamp, k int, v double",
        )
    )
    got = {(r["ts"], r["k"]): r["v"] for r in t.read().collect()}
    assert got[(ts_a, 1)] == -9.0 and got[(ts_a, 2)] == -8.0
    assert got[(ts_b, 1)] == 2.0


def test_partitioned_schema_evolution_escaped_leaf(spark, tmp_path):
    """Schema evolution (a set_col the target has never seen) under a
    PartitionedParquetTable whose partition values Spark %-escapes:
    the new column lands, pre-existing rows get NULL, and the
    escaped/untouched leaves survive the swap byte-identical."""
    t = PartitionedParquetTable(
        spark, str(tmp_path / "evo"), ["p", "k"], "p",
        partition_type="string",
    )
    t.init(
        spark.createDataFrame(
            [("a:b", 1, 1.0), ("plain", 1, 2.0), ("c=d e", 1, 3.0)],
            "p string, k int, v double",
        )
    )
    before = _files(os.path.join(t.path, "p=plain"))
    t.upsert(
        spark.createDataFrame(
            [("a:b", 1, -1.0, "new"), ("c=d e", 2, -3.0, "also")],
            "p string, k int, v double, extra string",
        )
    )
    rows = {(r["p"], r["k"]): (r["v"], r["extra"]) for r in t.read().collect()}
    assert rows[("a:b", 1)] == (-1.0, "new")  # matched → updated + evolved
    assert rows[("c=d e", 2)] == (-3.0, "also")  # inserted with new col
    assert rows[("c=d e", 1)] == (3.0, None)  # same-partition old row: NULL
    assert rows[("plain", 1)] == (2.0, None)  # untouched partition: NULL
    # untouched leaf not rewritten (merge cost ∝ update footprint) —
    # the read-side union supplies the NULL, not a rewrite
    assert _files(os.path.join(t.path, "p=plain")) == before
