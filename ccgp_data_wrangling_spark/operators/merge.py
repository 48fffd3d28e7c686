"""MERGE semantics over parquet tables (SURVEY.md §2.9, M1-M7).

The reference leans on MongoDB update operators for table maintenance:
``$set`` upserts, ``$setOnInsert``, ``$addToSet {$each}``, ``$pull``,
``update_many($in)``, ``delete_many($in)``. Delta Lake would give us
``MERGE INTO`` directly, but delta-spark isn't a dependency we can
assume — so this module implements deterministic join-based
copy-on-write MERGE over plain parquet:

    new_table = f(old_table ⟗ source)  →  write tmp dir  →  atomic swap

Every operation is **idempotent** (running twice == running once),
matching the reference's own invariant ("DOESN'T OVERRIDE EXISTING
FILES!", update_reads.py:19); property-tested in tests/test_merge.py.

Scale notes: each :class:`ParquetTable` MERGE is one full-outer (or
left) shuffle join on the key plus a full rewrite of the table — the
same cost profile as a Delta MERGE that touches all files. At 100 TB
you partition the table (e.g. by ccgp_project_id) and use
:class:`PartitionedParquetTable`: it derives the touched-partition
set from the source, reads ONLY those partitions (static partition
pruning at the file listing), and rewrites only their directories —
merge cost scales with the update's footprint, not the table. The
swap is atomic on a POSIX filesystem (rename); object stores need a
commit protocol (kept out of scope, as in vanilla-parquet Spark).

Reads go through :func:`catalog.read_parquet`: every file of a table
this module wrote carries Spark's schema in its footer, so reading the
target back — once per op, and in :meth:`ParquetTable.read` — launches
no Spark job. :meth:`ParquetTable.init` takes a schema for an empty
table and writes it from a JVM-side empty frame, so creating a table
starts no Python worker.
"""

from __future__ import annotations

import datetime
import os
import re
import shutil
import uuid
from collections.abc import Callable
from functools import reduce

_ASIDE_RE = re.compile(r"\.old-[0-9a-f]{32}$")

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ccgp_data_wrangling_spark.catalog import read_parquet


def empty_frame(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """An empty DataFrame of ``schema`` (a StructType or DDL string)
    built on the JVM: unlike a frame made from an empty Python list it
    has no partitions, so writing it starts no Python worker."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


class ParquetTable:
    """A keyed parquet table with Mongo-style maintenance operators."""

    def __init__(self, spark: SparkSession, path: str, key: str | list[str]):
        self.spark = spark
        self.path = path
        self.keys = [key] if isinstance(key, str) else list(key)

    # -- IO ---------------------------------------------------------------

    def read(self) -> DataFrame:
        return read_parquet(self.spark, self.path)

    def init(self, data: DataFrame | T.StructType | str) -> None:
        """Create (or overwrite) the table with the rows of ``data``, or,
        when ``data`` is a schema (a StructType or DDL string), as an
        empty table of that schema (see :func:`empty_frame`)."""
        self._frame(data).write.mode("overwrite").parquet(self.path)

    def exists(self) -> bool:
        return os.path.isdir(self.path)

    def fold(
        self, part: DataFrame, merge: Callable[[DataFrame, DataFrame], DataFrame]
    ) -> None:
        """Fold ``part`` into the table: create the table from ``part``
        when it is absent, otherwise swap in ``merge(table, part)``.

        The streaming states' one write path: ``merge`` reads the live
        table, so the swap materializes to a tmp dir first (see
        :meth:`_swap_in`) rather than overwriting in place.
        """
        if self.exists():
            self._swap_in(merge(self.read(), part))
        else:
            self.init(part)

    def _frame(self, data: DataFrame | T.StructType | str) -> DataFrame:
        if isinstance(data, DataFrame):
            return data
        return empty_frame(self.spark, data)

    def _target_for(self, source: DataFrame) -> DataFrame:
        """The slice of the table an op must read to merge ``source``.

        The base table has no pruning structure, so this is the whole
        table; :class:`PartitionedParquetTable` narrows it to the
        partitions the source touches.
        """
        return self.read()

    def _swap_in(self, df: DataFrame) -> None:
        """Copy-on-write: materialize to a tmp dir, atomically swap.

        Failure handling: a failed tmp write removes the tmp dir and
        leaves the table untouched; if the second rename fails after the
        first succeeded, the old dir is restored to ``path`` so a table
        always exists at ``path``. A crash (not an exception) between
        the two renames can still strand ``path`` — recover by renaming
        the newest ``.old-*`` sibling back to ``path``.
        """
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
        old = f"{self.path}.old-{uuid.uuid4().hex}"
        try:
            df.write.mode("overwrite").parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        os.rename(self.path, old)
        try:
            os.rename(tmp, self.path)
        except BaseException:
            os.rename(old, self.path)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(old)

    def _assert_unique(self, source: DataFrame) -> None:
        """Raise if ``source`` has more than one row for any key.

        One extra map-side-combined aggregate over the source (limit 1,
        so it short-circuits) — cheap next to the full table rewrite
        that follows, and it protects the documented idempotency
        invariant from silent fan-out.
        """
        dup = (
            source.groupBy(*self.keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            key_repr = {k: dup[0][k] for k in self.keys}
            raise ValueError(
                f"MERGE source is not unique per key {self.keys}: "
                f"{key_repr} appears {dup[0]['__n']} times"
            )

    # -- M1: $set upsert --------------------------------------------------

    def upsert(self, source: DataFrame, set_cols: list[str] | None = None) -> None:
        """MERGE: matched → overwrite ``set_cols`` from source; not
        matched → insert. (update_metadata.py:71-77 semantics.)

        ``set_cols`` defaults to every non-key source column. Source
        must be unique per key (enforced below — Mongo applies UpdateOne
        per document; set-oriented MERGE requires unique match, else the
        full-outer join fans out target rows and breaks idempotency).

        Schema evolution: a ``set_col`` the target has never seen is
        ADDED to the table (existing rows get NULL) — the parquet
        rendering of Mongo's schemaless ``$set`` with a new field
        (reference utils/db.py update paths add fields freely).
        ``insert_only`` evolves the same way via its
        ``unionByName(allowMissingColumns=True)``.
        """
        set_cols = set_cols or [c for c in source.columns if c not in self.keys]
        src = source.select(*self.keys, *set_cols)
        self._assert_unique(src)
        tgt = self._target_for(src)
        src = src.withColumn("__s_present", F.lit(1))
        t, s = tgt.alias("t"), src.alias("s")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in self.keys],
        )
        joined = t.join(s, cond, "full_outer")
        matched = F.col("s.__s_present").isNotNull()
        out_cols: list[Column] = []
        for k in self.keys:
            out_cols.append(F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k))
        for c in tgt.columns:
            if c in self.keys:
                continue
            if c in set_cols:
                out_cols.append(
                    F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
                )
            else:
                out_cols.append(F.col(f"t.{c}").alias(c))
        for c in set_cols:
            if c not in tgt.columns:
                # new column: source rows (updates AND inserts are both
                # "matched" = source-present) carry the value, rows the
                # source never mentioned get NULL
                out_cols.append(
                    F.when(matched, F.col(f"s.{c}")).alias(c)
                )
        self._swap_in(joined.select(*out_cols))

    # -- M2: $setOnInsert -------------------------------------------------

    def insert_only(self, source: DataFrame) -> None:
        """MERGE: insert source rows whose key is absent; never touch
        existing rows (update_reads.py:44-56 "$setOnInsert").
        Missing target columns are filled with NULL via unionByName.
        A key repeated in ``source`` is inserted once; which of its rows
        is kept is unspecified.
        """
        source = source.dropDuplicates(self.keys)
        tgt = self._target_for(source)
        new_rows = source.join(tgt.select(*self.keys), self.keys, "left_anti")
        self._swap_in(tgt.unionByName(new_rows, allowMissingColumns=True))

    # -- M3: $addToSet {$each} + $set -------------------------------------

    def array_union_set(
        self,
        source: DataFrame,
        array_col: str,
        set_exprs: dict[str, Column] | None = None,
        target_array_prep=None,
    ) -> None:
        """MERGE: matched → ``array_col = array_union(t.arr, s.arr)``
        (set semantics, append-distinct) plus optional ``$set`` columns
        from source; unmatched target rows untouched; unmatched source
        keys are NOT inserted (matches update_reads.py:255-272, which
        only updates known samples).

        ``set_exprs`` maps column name → expression over the joined
        ("t"/"s"-aliased) frame. ``target_array_prep`` (Column →
        Column) is applied to the MATCHED target array before the
        union — the reference's ""/"NaN" pollution scrub
        (update_reads.py:190-193) plugs in here.
        """
        tgt = self._target_for(source)
        t = tgt.alias("t")
        # Non-nullable presence marker: testing s.<key> IS NOT NULL would
        # misclassify a NULL-key source row that null-safely matched.
        s = source.withColumn("__s_present", F.lit(1)).alias("s")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in self.keys],
        )
        joined = t.join(s, cond, "left")
        matched = F.col("s.__s_present").isNotNull()
        set_exprs = set_exprs or {}
        out_cols: list[Column] = []
        for c in tgt.columns:
            if c == array_col:
                empty = F.array().cast(tgt.schema[c].dataType.simpleString())
                t_arr = F.coalesce(F.col(f"t.{c}"), empty)
                if target_array_prep is not None:
                    t_arr = target_array_prep(t_arr)
                merged = F.array_union(
                    t_arr,
                    F.coalesce(F.col(f"s.{c}"), empty),
                )
                out_cols.append(
                    F.when(matched, merged).otherwise(F.col(f"t.{c}")).alias(c)
                )
            elif c in set_exprs:
                out_cols.append(
                    F.when(matched, set_exprs[c]).otherwise(F.col(f"t.{c}")).alias(c)
                )
            else:
                out_cols.append(F.col(f"t.{c}").alias(c))
        self._swap_in(joined.select(*out_cols))

    # -- M4: $pull ---------------------------------------------------------

    def array_pull(self, pulls: DataFrame, array_col: str, value_col: str) -> None:
        """Remove specific values from ``array_col`` per key
        (update_reads.py:353-358 conflict-loser pull). ``pulls`` has
        key columns + ``value_col``; multiple values per key allowed.
        """
        agg = pulls.groupBy(*self.keys).agg(
            F.collect_set(value_col).alias("__pull_vals")
        )
        tgt = self._target_for(agg)
        t, p = tgt.alias("t"), agg.alias("p")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"p.{k}")) for k in self.keys],
        )
        joined = t.join(p, cond, "left")
        new_arr = F.filter(
            F.col(f"t.{array_col}"),
            lambda x: ~F.array_contains(F.col("p.__pull_vals"), x),
        )
        out_cols = [
            (
                F.when(F.col("p.__pull_vals").isNotNull(), new_arr)
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                if c == array_col
                else F.col(f"t.{c}").alias(c)
            )
            for c in tgt.columns
        ]
        self._swap_in(joined.select(*out_cols))

    # -- M5: update_many($in) ---------------------------------------------

    def update_where_in(self, keys_df: DataFrame, set_exprs: dict[str, Column]) -> None:
        """Set columns on every row whose key appears in ``keys_df``
        (update_projectID_reads_col.py:51-54). ``set_exprs`` may
        reference "t." columns and any extra columns of ``keys_df``
        via "s.".
        """
        tgt = self._target_for(keys_df)
        t = tgt.alias("t")
        s = keys_df.withColumn("__s_present", F.lit(1)).alias("s")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in self.keys],
        )
        joined = t.join(s, cond, "left")
        matched = F.col("s.__s_present").isNotNull()
        out_cols = [
            (
                F.when(matched, set_exprs[c]).otherwise(F.col(f"t.{c}")).alias(c)
                if c in set_exprs
                else F.col(f"t.{c}").alias(c)
            )
            for c in tgt.columns
        ]
        self._swap_in(joined.select(*out_cols))

    # -- M6: delete_many($in) ---------------------------------------------

    def delete_keys(self, keys_df: DataFrame) -> None:
        """Delete rows whose key appears in ``keys_df`` (anti-join
        rewrite of delete_mongo_file_if_not_in_aws.py:34).
        """
        tgt = self._target_for(keys_df)
        self._swap_in(tgt.join(keys_df.select(*self.keys), self.keys, "left_anti"))

    # -- OPTIMIZE: small-file compaction ------------------------------------

    def data_files(self) -> list[tuple[str, int]]:
        """(relative path, bytes) of every parquet data file."""
        out: list[tuple[str, int]] = []
        for dirpath, _dirs, files in os.walk(self.path):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out.append(
                        (os.path.relpath(p, self.path), os.path.getsize(p))
                    )
        return sorted(out)

    def compact(self, *, target_bytes: int = 128 << 20) -> dict:
        """Rewrite the table into ~``target_bytes`` files (the
        maintenance op compaction.plan_compaction schedules at scale):
        every append/upsert leaves task-count-many files, and scans pay
        a task per file. Data is byte-identical (copy-on-write swap,
        same atomicity as every merge op); a table already at or below
        the planned file count is left untouched — rewriting for
        nothing is pure write amplification."""
        files = self.data_files()
        total = sum(sz for _, sz in files)
        n_out = max(1, -(-total // max(target_bytes, 1)))
        if len(files) <= n_out:
            return {
                "rewritten": False,
                "n_files_before": len(files),
                "n_files_after": len(files),
            }
        self._swap_in(self.read().repartition(int(n_out)))
        return {
            "rewritten": True,
            "n_files_before": len(files),
            "n_files_after": len(self.data_files()),
        }


class PartitionedParquetTable(ParquetTable):
    """A hive-partitioned :class:`ParquetTable` whose MERGE ops touch
    only the partitions the source addresses.

    Every op (a) collects the source's distinct partition tuples — a
    bounded driver round-trip, partition counts are small by design,
    exactly Delta's touched-file discovery — (b) reads the target WITH
    a partition-tuple filter, which Spark applies at the file listing
    (``PartitionFilters``: untouched partitions are never even
    listed), and (c) writes and atomically swaps only the touched
    ``col=value[/col2=value2...]`` leaf directories. Untouched
    partition directories are not read, written, or renamed — merge
    cost follows the update footprint, not table size.

    ``partition_by`` may be one column or a list (multi-level layout,
    e.g. project/date). Constraints (documented, asserted where
    cheap):

    * every partition column must be a merge key — keys are immutable
      under every op, so a row can never change partition.
    * partition values must be non-null and render to filesystem-safe
      strings via ``str()`` (ints / simple tokens; the common case).
      Exotic values would need Hive's escapePathName.
    * ``partition_type``: hive partition-column type inference re-types
      values read back from directory names (e.g. a BIGINT key column
      re-infers as INT); pass the original Spark type name (or a
      {column: type} map for multi-level layouts) to pin the read
      schema.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str | list[str],
        partition_by: str | list[str],
        partition_type: str | dict[str, str] | None = None,
    ):
        super().__init__(spark, path, key)
        self.partition_cols = (
            [partition_by] if isinstance(partition_by, str) else list(partition_by)
        )
        missing = [c for c in self.partition_cols if c not in self.keys]
        if missing:
            raise ValueError(
                f"partition columns {missing} must be merge keys "
                f"(keys={self.keys}) so rows cannot change partition"
            )
        if isinstance(partition_type, str):
            partition_type = {self.partition_cols[0]: partition_type}
        self.partition_type = partition_type or {}
        self._touched: list[tuple] | None = None

    # -- IO ---------------------------------------------------------------

    def read(self) -> DataFrame:
        df = read_parquet(self.spark, self.path)
        for c, t in self.partition_type.items():
            df = df.withColumn(c, F.col(c).cast(t))
        return df

    def init(self, data: DataFrame | T.StructType | str) -> None:
        self._frame(data).write.mode("overwrite").partitionBy(
            *self.partition_cols
        ).parquet(self.path)

    def _target_for(self, source: DataFrame) -> DataFrame:
        tuples = [
            tuple(r)
            for r in source.select(*self.partition_cols).distinct().collect()
        ]
        if any(v is None for t in tuples for v in t):
            raise ValueError(
                f"NULL in partition columns {self.partition_cols} of MERGE "
                "source: null partition values are not supported"
            )
        self._touched = tuples
        # static partition pruning: literal equality filters over the
        # partition columns become PartitionFilters — only touched
        # directories are listed
        if len(self.partition_cols) == 1:
            cond = F.col(self.partition_cols[0]).isin([t[0] for t in tuples])
        else:
            cond = F.lit(False)
            for t in tuples:
                conj = F.lit(True)
                for c, v in zip(self.partition_cols, t):
                    conj = conj & (F.col(c) == F.lit(v))
                cond = cond | conj
        return self.read().where(cond)

    _HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

    @staticmethod
    def _unescape_partition_value(name: str) -> str | None:
        """Invert Spark/Hive ``escapePathName`` (%XX hex escapes).

        Spark percent-escapes characters that are unsafe in directory
        names (``:``, ``=``, ``%``, control chars, ...) when writing
        hive-style partition paths, and writes NULL partition values as
        ``__HIVE_DEFAULT_PARTITION__``. Since ``%`` itself is always
        escaped by the writer, every ``%XX`` in a Spark-written leaf
        name is an escape; a ``%`` not followed by two hex digits is
        kept literal for leniency toward hand-made directories.
        """
        if name == PartitionedParquetTable._HIVE_NULL:
            return None
        out: list[str] = []
        i, n = 0, len(name)
        while i < n:
            c = name[i]
            if (
                c == "%"
                and i + 2 < n + 1
                and i + 3 <= n
                and all(ch in "0123456789abcdefABCDEF" for ch in name[i + 1 : i + 3])
            ):
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
            else:
                out.append(c)
                i += 1
        return "".join(out)

    @staticmethod
    def _canon_value(v) -> str | None:
        """Render one partition value the way Spark renders it into a
        hive partition path (cast-to-string semantics), so collected
        Python values meet unescaped directory names on equal terms.

        Python ``str()`` disagrees with Spark for booleans
        (``True`` vs ``true``) and for timestamps with a fractional
        second (Python pads to 6 digits, Spark trims trailing zeros);
        a mismatch here makes the leaf lookup in ``_swap_in`` miss
        silently, so these are rendered explicitly. Types whose
        rendering is not verified to match are still ``str()``-ed but
        backstopped by the fresh-leaf invariant in ``_swap_in``.
        """
        if v is None:
            return None
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, datetime.datetime):
            s = v.strftime("%Y-%m-%d %H:%M:%S")
            if v.microsecond:
                s += (".%06d" % v.microsecond).rstrip("0")
            return s
        if isinstance(v, datetime.date):
            return v.isoformat()
        return str(v)

    def _canon(self, t: tuple) -> tuple:
        """Canonical string form of a partition tuple (None for null) —
        the meeting point between in-memory values and unescaped
        directory names."""
        return tuple(self._canon_value(v) for v in t)

    def _leaf_dirs(self, root: str) -> dict[tuple, str]:
        """Map canonical partition tuple → leaf dir path relative to
        ``root``, by walking the actual directories and UNESCAPING
        their names — never by re-deriving an escaped name from a
        value, so the mapping is correct whatever escape set the
        writer used."""
        depth = len(self.partition_cols)
        out: dict[tuple, str] = {}
        for dirpath, _dirs, files in os.walk(root):
            rel = os.path.relpath(dirpath, root)
            if rel == ".":
                continue
            segs = rel.split(os.sep)
            if len(segs) != depth or not all("=" in s for s in segs):
                continue
            if any(_ASIDE_RE.search(s) for s in segs):
                continue  # stranded .old-<hex> aside from a crashed swap
            vals = tuple(
                self._unescape_partition_value(s.split("=", 1)[1])
                for s in segs
            )
            out[vals] = rel
        return out

    def _swap_in(self, df: DataFrame) -> None:
        """Swap only the touched partition leaf directories (two-phase).

        The merged frame contains rows of touched partitions only (the
        target side was pruned, the source defines the touched set), so
        the tmp write materializes exactly the directories to swap. A
        touched tuple with no surviving rows (a delete emptied it) has
        no tmp directory and its live directory is removed.

        Commit protocol: phase 1 moves every touched live directory
        aside; phase 2 renames the fresh leaves into place. Any
        exception in either phase rolls the table back to its exact
        pre-merge state (installed leaves are un-renamed, asides
        restored) before the tmp directory is discarded — a failed
        merge is never partially applied. Renames are same-filesystem
        metadata ops, so the exposed window is minimal; a hard process
        kill mid-swap can still strand ``*.old-*`` asides, and recovery
        is "restore the asides, rerun the idempotent merge".
        """
        touched, self._touched = self._touched, None
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex}"
        try:
            df.write.mode("overwrite").partitionBy(
                *self.partition_cols
            ).parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        if touched is None:  # full-table op — whole-directory swap
            old = f"{self.path}.old-{uuid.uuid4().hex}"
            os.rename(self.path, old)
            try:
                os.rename(tmp, self.path)
            except BaseException:
                os.rename(old, self.path)
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            shutil.rmtree(old)
            return
        # Leaf directories are matched by UNESCAPED canonical tuple, on
        # both the live and the fresh side — never by reconstructing an
        # escaped directory name from a value — so partition values that
        # Spark %-escapes (space, colon, '=', ...) and NULLs
        # (__HIVE_DEFAULT_PARTITION__) swap correctly.
        canon = [self._canon(t) for t in touched]
        live_map = self._leaf_dirs(self.path)
        fresh_map = self._leaf_dirs(tmp)
        # Invariant: the merged frame holds touched-partition rows
        # ONLY, so every leaf the writer produced must match a touched
        # tuple. An unmatched fresh leaf means our canonical rendering
        # of some value disagrees with Spark's path rendering — and
        # proceeding would silently discard that leaf (the merge would
        # no-op for the partition). Refuse BEFORE any rename.
        unmatched = [k for k in fresh_map if k not in set(canon)]
        if unmatched:
            shutil.rmtree(tmp, ignore_errors=True)
            raise RuntimeError(
                "swap refused: fresh partition leaves "
                f"{unmatched!r} match no touched tuple {canon!r} — "
                "canonical rendering of a partition value disagrees "
                "with Spark's hive path rendering for its type"
            )
        require_fresh = getattr(self, "_require_fresh", False)
        self._require_fresh = False
        if require_fresh:
            missing = [ct for ct in canon if ct not in fresh_map]
            if missing:
                # refuse BEFORE any rename: a rewrite-in-place op (e.g.
                # compact) must reproduce every touched leaf — a missing
                # fresh leaf means the re-select missed rows, and
                # proceeding would discard the live data.
                shutil.rmtree(tmp, ignore_errors=True)
                raise RuntimeError(
                    "swap refused: no fresh replacement for touched "
                    f"partition leaves {missing!r}"
                )
        moved: list[tuple[str, str]] = []  # (live, aside)
        installed: list[tuple[str, str]] = []  # (fresh, live)
        try:
            # phase 1: stage — move all touched live directories aside
            for ct in canon:
                rel = live_map.get(ct)
                if rel is None:
                    continue
                live = os.path.join(self.path, rel)
                aside = f"{live}.old-{uuid.uuid4().hex}"
                os.rename(live, aside)
                moved.append((live, aside))
            # phase 2: commit — install every fresh leaf under the name
            # the writer gave it (its own escaped form)
            for ct in canon:
                rel = fresh_map.get(ct)
                if rel is None:
                    continue  # delete emptied this partition — no leaf
                live = os.path.join(self.path, rel)
                fresh = os.path.join(tmp, rel)
                os.makedirs(os.path.dirname(live), exist_ok=True)
                os.rename(fresh, live)
                installed.append((fresh, live))
        except BaseException:
            # roll back to the exact pre-merge state: uninstall fresh
            # leaves first (free the live slots), then restore asides
            for fresh, live in reversed(installed):
                try:
                    os.rename(live, fresh)
                except OSError:
                    pass
            for live, aside in reversed(moved):
                try:
                    os.rename(aside, live)
                except OSError:
                    pass
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        for _, aside in moved:
            shutil.rmtree(aside, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)

    def compact(self, *, target_bytes: int = 128 << 20) -> dict:
        """Partition-pruned OPTIMIZE: rewrite ONLY the leaf
        directories holding more than one file whose combined bytes
        fit ``target_bytes`` — each touched leaf collapses to a
        single file through the same two-phase leaf swap every merge
        uses; untouched leaves (already single-file, or genuinely
        large) are never read or renamed. Cost follows the
        small-file footprint, not table size — the property that
        makes nightly OPTIMIZE affordable at 100 TB."""
        # touched tuples come from _leaf_dirs (UNESCAPED dir names, None
        # for __HIVE_DEFAULT_PARTITION__) — never raw directory strings,
        # so %-escaped and NULL partition values re-select correctly.
        leaves: dict[tuple, list[int]] = {}
        for canon_t, rel in self._leaf_dirs(self.path).items():
            dirpath = os.path.join(self.path, rel)
            sizes = [
                os.path.getsize(os.path.join(dirpath, f))
                for f in os.listdir(dirpath)
                if f.endswith(".parquet")
                and os.path.isfile(os.path.join(dirpath, f))
            ]
            if sizes:
                leaves[canon_t] = sizes
        touched = [
            t
            for t, sizes in sorted(
                leaves.items(),
                key=lambda kv: tuple(
                    (v is None, v or "") for v in kv[0]
                ),
            )
            if len(sizes) > 1 and sum(sizes) <= target_bytes
        ]
        if not touched:
            return {"rewritten": False, "n_leaves_touched": 0}
        cond = None
        for t in touched:
            leaf_eq = reduce(
                lambda a, b: a & b,
                [
                    F.col(c).isNull()
                    if v is None
                    else F.col(c).cast("string") == F.lit(v)
                    for c, v in zip(self.partition_cols, t)
                ],
            )
            cond = leaf_eq if cond is None else (cond | leaf_eq)
        df = self.read().where(cond).repartition(*[
            F.col(c) for c in self.partition_cols
        ])
        self._touched = touched
        # compact never drops rows: every touched leaf MUST reappear in
        # the tmp write, or the swap refuses rather than discard data.
        self._require_fresh = True
        self._swap_in(df)
        return {"rewritten": True, "n_leaves_touched": len(touched)}
