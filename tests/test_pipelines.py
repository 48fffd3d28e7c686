"""End-to-end pipeline golden tests on the CCGP-shaped fixtures
(SURVEY.md §3 entry points re-expressed on the operator library)."""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.merge import ParquetTable
from ccgp_data_wrangling_spark.pipelines.sheets import SRA_DEFAULTS
from ccgp_data_wrangling_spark.pipelines import (
    biosample_sheet,
    clean_submitted,
    project_summary,
    run_update_reads,
    sra_sheet,
)
from tests import domain_fixtures as fx


@pytest.fixture()
def tables(spark, tmp_path):
    samples_tbl = ParquetTable(spark, str(tmp_path / "samples"), "sample_name")
    samples_tbl.init(fx.samples(spark))
    reads_tbl = ParquetTable(spark, str(tmp_path / "reads"), "file_name")
    reads_tbl.init(fx.reads(spark))
    return samples_tbl, reads_tbl


def test_update_reads_pipeline(spark, tables):
    samples_tbl, reads_tbl = tables
    stats = run_update_reads(fx.s3_listing(spark), reads_tbl, samples_tbl)
    assert stats["discovered"] == 16  # 15 known keys + 1 new object
    # linked: HYLA_01 (variant tier), HYLA_02, RANA_01, BRACHY_01,
    # CONF_12 (conflict winner); SEB_01 is NO-sequenced, SEB_02 null id
    by_name = {r.sample_name: r for r in samples_tbl.read().collect()}
    assert sorted(
        n for n, r in by_name.items() if r.filesize_sum is not None
    ) == ["BRACHY_01", "CONF_12", "HYLA_01", "HYLA_02", "RANA_01"]

    # variant cascade: dash id matched underscore files
    assert len(by_name["HYLA_01"].files) == 4
    assert by_name["HYLA_01"].filesize_sum == 100 + 110 + 120 + 130

    # tier semantics: non-gz dropped; pollution scrubbed, stale kept
    # ($addToSet order: existing elements first, then new — set compare)
    assert set(by_name["HYLA_02"].files) == {
        "stale.fastq.gz",
        "HYLA_02_L001_R1_001.fastq.gz",
        "HYLA_02_L001_R2_001.fastq.gz",
    }

    # comma multi-id: first id's matches win the cascade (A-files only)
    assert [f for f in by_name["RANA_01"].files if "RANA01B" in f] == []
    assert len(by_name["RANA_01"].files) == 2

    # conflict: CONF_12 (higher fuzz ratio) owns both files, CONF_1 none
    assert by_name["CONF_1"].files is None
    assert len(by_name["CONF_12"].files) == 2

    # reads side: matched files non-orphan + owner backfilled
    reads_now = {r.file_name: r for r in reads_tbl.read().collect()}
    assert reads_now["CONF_1_2_L001_R1_001.fastq.gz"].sample_name == "CONF_12"
    assert reads_now["CONF_1_2_L001_R1_001.fastq.gz"].orphan is False
    # discovery: the new listing object was inserted
    assert "NEW_L001_R1_001.fastq.gz" in reads_now
    # never-matched rows keep orphan null/true
    assert reads_now["ZZZ_L001_R1_001.fastq.gz"].orphan is None

    # idempotency: a second run changes nothing
    before = sorted(map(tuple, samples_tbl.read().collect()))
    run_update_reads(fx.s3_listing(spark), reads_tbl, samples_tbl)
    after = sorted(map(tuple, samples_tbl.read().collect()))
    assert before == after


def test_clean_submitted_pipeline(spark):
    raw = spark.createDataFrame(
        [
            ("CC 1.A", "Hyla regilla", "38.05 N 120.62 W", "3/7/2021"),
            ("CC2", "Rana draytonii subsp", "38.1,-120.2", "2021-03-07"),
            ("CC3", "Sebastes unknownspecies", "Not determined yet", "2021,2022"),
            ("CC4", "Totally unknown", "36.5_121.9", None),
        ],
        "sample_name string, organism string, lat_lon string, collection_date string",
    )
    out = {
        r.sample_name: r
        for r in clean_submitted(raw, fx.species_lookup(spark)).collect()
    }
    assert set(out) == {"CC_1_A", "CC2", "CC3", "CC4"}  # X5
    r1 = out["CC_1_A"]
    assert (r1.lat, r1.long) == (38.05, -120.62)  # X1 + X4
    assert r1.collection_date == "2021-03-07"  # X3
    assert (r1.ccgp_project_id, r1.expected_species) == ("12-Hyla", 1)  # J7
    r2 = out["CC2"]
    assert (r2.ccgp_project_id, r2.expected_species) == ("7-Rana", 1)
    r3 = out["CC3"]
    assert r3.lat is None and r3.long is None  # X6 sentinel → null
    assert r3.collection_date == "2021/2022"
    # genus fallback: unknown species of known genus
    assert (r3.ccgp_project_id, r3.expected_species) == ("55-Sebastes", 0)
    r4 = out["CC4"]
    assert (r4.lat, r4.long) == (36.5, -121.9)
    assert r4.ccgp_project_id == "Unknown project-id"


def test_biosample_sheet_policy(spark, tables):
    samples_tbl, reads_tbl = tables
    run_update_reads(fx.s3_listing(spark), reads_tbl, samples_tbl)
    sheet = {r["*sample_name"]: r for r in biosample_sheet(samples_tbl.read()).collect()}
    # F8: RANA_01 has an accession → excluded; F3: unlinked samples excluded
    assert sorted(sheet) == ["BRACHY_01", "CONF_12", "HYLA_01", "HYLA_02"]
    # open coords: real lat_lon + geocoded state
    assert sheet["HYLA_01"]["lat_lon"] == "38.1,-120.2"
    assert sheet["HYLA_01"]["*geo_loc_name"].startswith("USA:California")
    # protected, not excluded: township-range-section, lat_lon untouched (null)
    assert sheet["HYLA_02"]["*geo_loc_name"] == "USA:California, T2-R2-S2"
    assert sheet["HYLA_02"]["lat_lon"] is None
    # null coords → 'not provided' lat_lon
    assert sheet["BRACHY_01"]["lat_lon"] == "NaN,NaN" or sheet["BRACHY_01"]["lat_lon"] == "not provided"
    assert sheet["HYLA_01"]["isolate"] == "Hyla_regilla_HYLA_01"


def test_sra_sheet_pairs(spark, tables):
    samples_tbl, reads_tbl = tables
    run_update_reads(fx.s3_listing(spark), reads_tbl, samples_tbl)
    rows = sra_sheet(samples_tbl.read(), reads_tbl.read()).collect()
    by_lib = {r.library_ID: r for r in rows}
    # HYLA_01 has 4 gz files → 2 pairs; R1/R2 adjacency preserved
    h1 = [r for r in rows if r["*sample_name"] == "HYLA_01"]
    assert len(h1) == 2
    for r in h1:
        assert r.filename.replace("_R1_", "_R2_") == r.filename2
    # J3: instrument joined from reads where present, default otherwise
    assert by_lib["HYLA_01_L002"].instrument_model == "Illumina NovaSeq X"
    assert by_lib["CONF_1_2_L001"].instrument_model == "Illumina NovaSeq 6000"
    # F8: HYLA_02's pair is uploaded → excluded
    assert not [r for r in rows if r["*sample_name"] == "HYLA_02"]
    # X8 defaults present
    assert by_lib["HYLA_01_L001"].library_strategy == "WGS"
    assert by_lib["HYLA_01_L001"].platform == "ILLUMINA"


def _sra_sheet_columns(samples: DataFrame, reads: DataFrame) -> DataFrame:
    """Reference: the SRA sheet built one Column operator at a time,
    as ``pipelines/sheets.sra_sheet`` was before it moved to SQL
    text."""
    gz = F.array_sort(F.filter(F.col("files"), lambda x: x.endswith(".gz")))
    pair_idx = F.sequence(F.lit(0), (F.size(gz) / 2).cast("int") - 1)
    pairs = (
        samples.where(F.col("files").isNotNull() & (F.size("files") > 0))
        .withColumn("__gz", gz)
        .where(F.size("__gz") >= 2)
        .select(
            "sample_name",
            "organism",
            "ccgp_project_id",
            F.explode(
                F.transform(
                    pair_idx,
                    lambda i: F.struct(
                        F.element_at(F.col("__gz"), i * 2 + 1).alias("filename"),
                        F.element_at(F.col("__gz"), i * 2 + 2).alias("filename2"),
                    ),
                )
            ).alias("p"),
        )
        .select("sample_name", "organism", "ccgp_project_id", "p.*")
    )
    r = reads.select(
        F.col("file_name").alias("filename"), "instrument_model", "uploaded_to_NCBI"
    )
    not_uploaded = pairs.join(r, "filename", "left").where(
        F.col("uploaded_to_NCBI").isNull() | (F.col("uploaded_to_NCBI") != "yes")
    )
    return not_uploaded.select(
        F.col("sample_name").alias("*sample_name"),
        F.substring_index(F.col("filename"), "_R1", 1).alias("library_ID"),
        F.concat(F.lit("Whole genome sequencing of "), F.col("organism")).alias("title"),
        F.coalesce(
            F.col("instrument_model"), F.lit(SRA_DEFAULTS["instrument_model"])
        ).alias("instrument_model"),
        "filename",
        "filename2",
        F.col("ccgp_project_id"),
        *(
            F.lit(default).alias(col)
            for col, default in SRA_DEFAULTS.items()
            if col != "instrument_model"
        ),
    )


# file names: lanes L1-L3, R1 or R2, .gz or not; a sample's list is
# drawn in any order, so R2 often comes before R1 and a .gz count can
# be odd
_FILE = st.builds(
    "{}_L{}_R{}{}".format,
    st.sampled_from(["A", "B"]),
    st.integers(1, 3),
    st.sampled_from([1, 2]),
    st.sampled_from([".fastq.gz", ".fastq", ".txt", ".gz"]),
)


@given(
    files=st.lists(
        st.none() | st.lists(_FILE, max_size=6, unique=True), min_size=1, max_size=8
    ),
    reads=st.lists(
        st.tuples(
            _FILE,
            st.none() | st.just("Illumina HiSeq X"),
            st.sampled_from([None, "yes", "no"]),
        ),
        max_size=10,
    ),
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sra_sheet_matches_column_reference(spark, files, reads):
    """The SQL-text sra_sheet gives the Column-built sheet's rows and
    schema: null and empty file lists, odd .gz counts, non-.gz names,
    R2 before R1, null/yes/no upload flags and pairs with no reads
    row (a reads row may also name an R2 or a file no sample has)."""
    samples = spark.createDataFrame(
        [(f"S{k}", "Rana draytonii", f"CCGP-{k}", fs) for k, fs in enumerate(files)],
        "sample_name string, organism string, ccgp_project_id string, "
        "files array<string>",
    )
    reads_df = spark.createDataFrame(
        reads, "file_name string, instrument_model string, uploaded_to_NCBI string"
    )
    got = sra_sheet(samples, reads_df)
    ref = _sra_sheet_columns(samples, reads_df)
    assert got.schema == ref.schema
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, ref.collect()))


def test_project_summary(spark, tables):
    samples_tbl, reads_tbl = tables
    run_update_reads(fx.s3_listing(spark), reads_tbl, samples_tbl)
    expected = spark.createDataFrame(
        [("12-Hyla", 4), ("7-Rana", 2)], "project_id string, expected_n long"
    )
    rows = {r.ccgp_project_id: r for r in project_summary(
        samples_tbl.read(), expected
    ).collect()}
    hyla = rows["12-Hyla"]
    assert hyla.n_samples == 4
    assert hyla.n_with_files == 3  # HYLA_01, HYLA_02, CONF_12
    assert hyla.samples_missing_files == ["CONF_1"]
    assert hyla.pct_done == 75.0  # 3 of expected 4
    assert rows["7-Rana"].pct_done == 50.0  # 1 of expected 2
    seb = rows["55-Sebastes"]
    assert seb.pct_done == 0.0 and seb.expected_n is None
    assert rows["93-Brachycybe"].project_type == "Non-Minicore"


def test_attach_accessions(spark, tables):
    from ccgp_data_wrangling_spark.pipelines.metadata_ingest import (
        attach_accessions,
    )

    samples_tbl, _ = tables
    n = attach_accessions(samples_tbl, fx.biosample_attributes(spark))
    assert n == 2  # 'HYLA 01' → HYLA_01 (X5 at join), 'SEB.01' → SEB_01
    by_name = {r.sample_name: r for r in samples_tbl.read().collect()}
    assert by_name["HYLA_01"].ncbi_accession_id == "SAMN101"
    assert by_name["HYLA_01"].ncbi_bioproject == "PRJNA1"
    assert by_name["SEB_01"].ncbi_accession_id == "SAMN102"
    # untouched rows keep their values (RANA_01 had one already)
    assert by_name["RANA_01"].ncbi_accession_id == "SAMN001"
    assert by_name["HYLA_02"].ncbi_accession_id is None


# ---------------------------------------------------------------------------
# daily_refresh (pipelines/refresh.py)
# ---------------------------------------------------------------------------


def test_daily_refresh_metrics_and_store_state(spark, tmp_path):
    from pyspark.sql import functions as F

    from ccgp_data_wrangling_spark.operators.merge import ParquetTable
    from ccgp_data_wrangling_spark.pipelines.refresh import daily_refresh

    base = "the quick brown fox jumps over the lazy dog once more today "
    store = ParquetTable(spark, str(tmp_path / "store"), "doc_id")
    store.init(
        spark.createDataFrame(
            [(1, base * 3), (2, "completely different content here " * 5)],
            "doc_id long, text string",
        )
    )
    batch = spark.createDataFrame(
        [
            (100, "genuinely new text nothing like the others " * 5),
            (101, base * 3 + "tail"),   # near-dup of store doc 1
            (102, "   "),               # contract violation
        ],
        "doc_id long, text string",
    )
    metrics = {
        r["metric"]: r["n"] for r in daily_refresh(spark, store, batch).collect()
    }
    assert metrics == {
        "batch_rows": 3,
        "gate_dropped": 1,
        "dup_dropped": 1,
        "inserted": 1,
        "store_added": 1,
        "store_unchanged": 2,
    }
    # the store now holds exactly old ∪ survivors
    ids = sorted(r["doc_id"] for r in store.read().select("doc_id").collect())
    assert ids == [1, 2, 100]


def test_daily_refresh_rerun_is_idempotent(spark, tmp_path):
    """Re-delivering the same batch inserts nothing: survivors'
    keys already exist (insert-only) and near-dups still drop."""
    from ccgp_data_wrangling_spark.operators.merge import ParquetTable
    from ccgp_data_wrangling_spark.pipelines.refresh import daily_refresh

    store = ParquetTable(spark, str(tmp_path / "store"), "doc_id")
    store.init(
        spark.createDataFrame(
            [(1, "original corpus content sits here quietly " * 4)],
            "doc_id long, text string",
        )
    )
    batch = spark.createDataFrame(
        [(100, "brand new document with fresh words " * 4)],
        "doc_id long, text string",
    )
    m1 = {r["metric"]: r["n"] for r in daily_refresh(spark, store, batch).collect()}
    assert m1["store_added"] == 1
    m2 = {r["metric"]: r["n"] for r in daily_refresh(spark, store, batch).collect()}
    # second delivery: doc 100 now near-dups ITSELF in the store
    # (jaccard 1.0), so the dedup stage drops it; nothing is added
    assert m2["dup_dropped"] == 1 and m2["store_added"] == 0
    assert store.read().count() == 2
