"""Sink connectors (SURVEY.md §2.2).

* K1 single-file TSV/CSV sink — reference ``create_sheets.py:119,
  161,300-309``, ``create_sheets_ultimate.py:443-447``: sheets for
  NCBI submission are ONE file by contract, so the writer coalesces.
  For big result sets use ``write_partitioned`` instead — the
  single-file contract is a report-sink property, not an engine limit.
* K3 append sink — ``update_gsheet.py:25``: a plain
  ``df.write.mode("append").parquet(path)``, which needs no wrapper.
* K6 text/log sink — ``update_reads_by_lane.py:179-341``: line
  reports.
* K5 Google-Sheet export — driver-side shim over a collected (small)
  result; the network client is injected so tests capture payloads.

MERGE/DELETE sinks (K2/K4) live in ``operators/merge.py``.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame


def write_single_tsv(df: DataFrame, path: str, *, sep: str = "\t") -> None:
    """K1: write ``df`` as exactly one TSV file at ``path``.

    coalesce(1) funnels through one task — correct for report-sized
    outputs (the only single-file consumers are submission sheets);
    the temp-dir + rename makes the sink atomic at the path level.
    """
    tmp = path + "._tmp"
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("sep", sep)
        .option("header", True)
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*"))[0]
    os.replace(part, path)
    shutil.rmtree(tmp, ignore_errors=True)


def write_text_report(lines: DataFrame, path: str) -> None:
    """K6: line-oriented report sink (single text file)."""
    tmp = path + "._tmp"
    lines.coalesce(1).write.mode("overwrite").text(tmp)
    part = glob.glob(os.path.join(tmp, "part-*"))[0]
    os.replace(part, path)
    shutil.rmtree(tmp, ignore_errors=True)


def export_rows(
    df: DataFrame,
    push: Callable[[list[str], list[list]], None],
    *,
    max_rows: int = 100_000,
) -> int:
    """K5: export a SMALL collected result through an injected client
    (Google Sheets in the reference, ``update_gsheet.py:19,26``).

    Guards against accidentally collecting a big frame — exports are
    dashboards, not data movement.
    """
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"export_rows refuses > {max_rows} rows; "
            "use write_partitioned for data movement"
        )
    push(list(df.columns), [list(r) for r in rows])
    return len(rows)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    *,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed managed table (co-located join scale path).

    Two tables bucketed on the same key with the same bucket count
    join WITHOUT a shuffle exchange — the physical win the reference's
    per-project access pattern wants at 100 TB (bucket samples and
    reads by project/sample key once; every later join/agg on that key
    is exchange-free). Requires saveAsTable (bucket metadata lives in
    the session catalog / metastore).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], *, mode: str = "overwrite"
) -> None:
    """Write parquet partitioned by the given columns (hive layout).

    The scale-path layout for the reference's tables: every access in
    SURVEY.md §2.3 filters on project / sample / file key, so
    partitioning on `ccgp-project-id` turns those filters into
    partition pruning — the scan never opens non-matching directories
    (PartitionFilters in the physical plan, vs row-group skipping for
    non-partition predicates).
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
