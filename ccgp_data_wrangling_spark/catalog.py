"""Catalog: table registry over parquet directories.

Two table families:

* **Benchmark tables** — the TPC-H-ish star schema plus ``events``,
  ``documents``, ``embeddings`` in ``/root/testdata/sf*`` (see
  TESTDATA.md). Loaded verbatim by :func:`load_tables`.

* **Domain tables** — the CCGP data model distilled from the
  reference's Mongo collections (SURVEY.md §1.2): ``samples``
  (one row per biological sample; reference `update_metadata.py:19-20`),
  ``reads`` (one row per fastq file; reference `update_reads.py:40-56`),
  plus ingest ledgers. Explicit StructTypes — the reference's
  dynamic-schema reality is handled by a curated core schema plus an
  ``attrs`` map column for the long tail (SURVEY.md §1.5).

At cluster scale, domain tables should be written partitioned by
``ccgp_project_id`` — every observed access pattern filters on project
id, sample name, or file name (SURVEY.md §4.2), so partition pruning
on project plus file-level min/max on the keys covers the workload.

How a read gets its schema: every parquet read in the package goes
through :func:`read_parquet`, which hands Spark the schema so the
reader launches no inference job (without one, Spark's reader reads a
footer in a one-task cluster job on every call). If every data file's
footer carries Spark's ``org.apache.spark.sql.parquet.row.metadata``
key with one shared value — any table Spark wrote — that JSON is the
schema, made nullable as Spark's reader makes it. Otherwise
(pyarrow-written base tables, files with diverging footers) Spark infers
the schema once. Either result is memoized in a bounded LRU keyed on the
path, the ``(name, size, mtime_ns)`` of every data file and the confs
that steer footer-to-schema conversion, so a rewritten file is re-read
and a repeat read of an unchanged table costs a directory walk. The memo
holds schemas only, never DataFrames (a shared DataFrame would break
self-join disambiguation); it is what a metastore gives
``spark.table()``. Remote paths and directories holding
``_metadata``/``_common_metadata`` summary files go to Spark unchanged.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BENCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# the confs Spark consults when it turns a parquet footer into a schema
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_MEMO: OrderedDict[tuple, T.StructType] = OrderedDict()
_SCHEMA_MEMO_SIZE = 256
_SCHEMA_MEMO_LOCK = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read the parquet table at ``path`` with its schema handed to the
    reader, so the read launches no schema-inference job (see the module
    docstring for where the schema comes from)."""
    files = _data_files(path)
    key = schema = None
    if files is not None:
        key = (path, files, tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS))
        with _SCHEMA_MEMO_LOCK:
            schema = _SCHEMA_MEMO.get(key)
        if schema is None:
            schema = _footer_schema(files)
    read = spark.read if schema is None else spark.read.schema(schema)
    df = read.parquet(path)
    if key is not None:
        with _SCHEMA_MEMO_LOCK:
            _SCHEMA_MEMO[key] = df.schema if schema is None else schema
            _SCHEMA_MEMO.move_to_end(key)
            if len(_SCHEMA_MEMO) > _SCHEMA_MEMO_SIZE:
                _SCHEMA_MEMO.popitem(last=False)
    return df


def _hidden(name: str) -> bool:
    """Names Spark's file listing skips (``HadoopFSUtils.shouldFilterOutPathName``)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _data_files(path: str) -> tuple[tuple[str, int, int], ...] | None:
    """``(file, size, mtime_ns)`` of every data file Spark would list
    under a local ``path``, sorted; None when the read must go to Spark
    unchanged (a remote or missing path, summary files, no data files)."""
    url = urlparse(path)
    if url.scheme not in ("", "file"):
        return None
    local = os.path.abspath(url.path if url.scheme else path)
    if os.path.isfile(local):
        found = [local]
    else:
        found = []
        for dirpath, dirs, names in os.walk(local):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for n in names:
                if n.startswith(("_metadata", "_common_metadata")):
                    return None
                if not _hidden(n):
                    found.append(os.path.join(dirpath, n))
    out = []
    for f in sorted(found):
        st = os.stat(f)
        out.append((f, st.st_size, st.st_mtime_ns))
    return tuple(out) or None


def _footer_schema(files: tuple[tuple[str, int, int], ...]) -> T.StructType | None:
    """The Spark schema JSON every footer carries, made nullable; None
    unless every file holds the same one."""
    import pyarrow.parquet as pq

    values = set()
    for f, _size, _mtime in files:
        try:
            kv = pq.read_metadata(f).metadata or {}
        except (OSError, ValueError):  # not a parquet file: Spark decides
            return None
        values.add(kv.get(_SPARK_SCHEMA_KEY))
        if None in values or len(values) > 1:
            return None
    try:
        return _nullable(T.StructType.fromJson(json.loads(values.pop())))
    except ValueError:
        return None


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field, array element and map value nullable
    (Spark's ``DataType.asNullable``, which its file reader applies)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.parquet carries TIMESTAMP(NANOS), which Spark's reader
        # rejects; read nanos as long (runtime-settable conf, so this works
        # under externally-created sessions too) and truncate to micros
        # exactly as DuckDB does so oracle comparison agrees.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all benchmark tables as DataFrames (lazy — no action run)."""
    return {t: load_table(spark, sf_dir, t) for t in BENCH_TABLES}


# ---------------------------------------------------------------------------
# Domain schemas (SURVEY.md §1, FIXTURES.md)
# ---------------------------------------------------------------------------

SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("sample_name", T.StringType(), False),
        T.StructField("organism", T.StringType(), True),
        T.StructField("ccgp_project_id", T.StringType(), True),
        T.StructField("expected_species", T.IntegerType(), True),
        T.StructField("minicore_seq_id", T.StringType(), True),
        T.StructField("old_minicore_seq_id", T.StringType(), True),
        T.StructField("preferred_sequence_id", T.StringType(), True),
        T.StructField("minicore_sequenced", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
        T.StructField("lat_lon", T.StringType(), True),
        T.StructField("collection_date", T.StringType(), True),
        T.StructField("geo_loc_name", T.StringType(), True),
        T.StructField("locality_description", T.StringType(), True),
        T.StructField("county", T.StringType(), True),
        T.StructField("state", T.StringType(), True),
        T.StructField("files", T.ArrayType(T.StringType()), True),
        T.StructField("filesize_sum", T.LongType(), True),
        T.StructField("received", T.TimestampType(), True),
        T.StructField("ncbi_accession_id", T.StringType(), True),
        T.StructField("ncbi_bioproject", T.StringType(), True),
        T.StructField("ref_genome_accession", T.StringType(), True),
        T.StructField("project_type", T.StringType(), True),
        T.StructField("library_prep_method", T.StringType(), True),
        T.StructField("protected_coords", T.StringType(), True),
        T.StructField("exclude", T.StringType(), True),
        T.StructField("township", T.StringType(), True),
        T.StructField("range", T.StringType(), True),
        T.StructField("section", T.StringType(), True),
        T.StructField("lane_name", T.StringType(), True),
        T.StructField("attrs", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

READS_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("filesize", T.LongType(), True),
        T.StructField("mdate", T.TimestampType(), True),
        T.StructField("orphan", T.BooleanType(), True),
        T.StructField("instrument_model", T.StringType(), True),
        T.StructField("uploaded_to_NCBI", T.StringType(), True),
        T.StructField("srr_accession_id", T.StringType(), True),
        T.StructField("ncbi_bioproject", T.StringType(), True),
        T.StructField("ccgp_project_id", T.StringType(), True),
        T.StructField("sequence_length", T.LongType(), True),
        T.StructField("sample_name", T.StringType(), True),
    ]
)

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("processed_at", T.TimestampType(), True),
    ]
)

S3_LISTING_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("size", T.LongType(), True),
        T.StructField("last_modified", T.TimestampType(), True),
    ]
)
