"""NCBI submission-sheet pipelines — reference
``create_sheets_ultimate.py`` (§3.3), one declarative DataFrame chain
per sheet type instead of iterrows mutation.

:func:`sra_sheet` is written as SQL text (``selectExpr`` with SQL
lambdas), because every ``F.*`` call and Column operator is a py4j
round trip on the driver. Built from Columns, the ``sra_sheet_e2e``
query (its fixture plus this chain) made 1,338 of them; as SQL text
it makes 84, for the same rows and schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ccgp_data_wrangling_spark.operators.geocode import reverse_geocode_expr
from ccgp_data_wrangling_spark.operators.sheets import (
    impute_required,
    mask_coordinates,
    merge_geo_loc_name,
)

SRA_DEFAULTS = {
    # create_sheets_ultimate.py:369-385
    "library_strategy": "WGS",
    "library_source": "GENOMIC",
    "library_selection": "RANDOM",
    "library_layout": "PAIRED",
    "platform": "ILLUMINA",
    "instrument_model": "Illumina NovaSeq 6000",
    "filetype": "fastq",
}


def biosample_sheet(samples: DataFrame) -> DataFrame:
    """BioSample sheet: F3 non-empty-files filter, X9 geo merge + X8
    imputation, X7 isolate, X11 offline geocode, X10 masking, F8
    already-accessioned filter.

    Output grain: one row per submittable sample.
    """
    base = samples.where(
        F.col("files").isNotNull() & (F.size("files") > 0)
    ).where(F.col("ncbi_accession_id").isNull())  # F8

    merged_geo = impute_required(
        merge_geo_loc_name(
            F.col("geo_loc_name"),
            F.col("locality_description"),
            F.col("county"),
            F.col("state"),
        )
    )
    geocoded = reverse_geocode_expr(F.col("lat"), F.col("long"))
    lat_str = F.coalesce(
        F.col("lat").cast("string"), F.lit("NaN")
    )
    long_str = F.coalesce(F.col("long").cast("string"), F.lit("NaN"))
    staged = base.withColumn("__geo", merged_geo).withColumn("__geocoded", geocoded)
    geo_out, lat_lon_out = mask_coordinates(
        existing_geo=F.col("__geo"),
        protected=F.col("protected_coords"),
        exclude=F.col("exclude"),
        lat_str=lat_str,
        long_str=long_str,
        township=F.coalesce(F.col("township"), F.lit("nan")),
        range_=F.coalesce(F.col("range"), F.lit("nan")),
        section=F.coalesce(F.col("section"), F.lit("nan")),
        geocoded=F.col("__geocoded"),
    )
    isolate = F.concat_ws(
        "_",
        F.regexp_replace(F.col("organism"), " ", "_"),
        F.col("sample_name"),
    )
    return staged.select(
        F.col("sample_name").alias("*sample_name"),
        F.col("organism").alias("*organism"),
        isolate.alias("isolate"),
        impute_required(F.col("collection_date")).alias("*collection_date"),
        geo_out.alias("*geo_loc_name"),
        lat_lon_out.alias("lat_lon"),
        F.concat(F.lit("Whole genome sequencing of "), F.col("organism")).alias(
            "sample_title"
        ),
        F.col("ccgp_project_id"),
    )


def sra_sheet(samples: DataFrame, reads: DataFrame) -> DataFrame:
    """SRA sheet: R1 read-pair explode (sorted .gz files paired
    adjacently — create_sheets_ultimate.py:387-423), J3 per-pair
    instrument lookup as a JOIN (not find_one), X8 SRA defaults, F8
    uploaded filter against reads.

    Output grain: one row per R1/R2 pair.
    """
    # a sample with fewer than two .gz files (or null/empty files)
    # repeats its pair index zero times, so inline emits no row for it
    pairs = samples.selectExpr(
        "sample_name",
        "organism",
        "ccgp_project_id",
        "array_sort(filter(files, x -> endswith(x, '.gz'))) AS __gz",
    ).selectExpr(
        "sample_name",
        "organism",
        "ccgp_project_id",
        "inline(transform(array_repeat(0, CAST(size(__gz) / 2 AS INT)),"
        " (_, i) -> named_struct('filename', element_at(__gz, i * 2 + 1),"
        " 'filename2', element_at(__gz, i * 2 + 2))))",
    )
    # J3: attach instrument + uploaded flag from reads (left join on R1)
    r = reads.selectExpr(
        "file_name AS filename", "instrument_model", "uploaded_to_NCBI"
    )
    return (
        pairs.join(r, "filename", "left")
        # F8: drop pairs already uploaded
        .where("uploaded_to_NCBI IS NULL OR uploaded_to_NCBI != 'yes'")
        .selectExpr(
            "sample_name AS `*sample_name`",
            "substring_index(filename, '_R1', 1) AS library_ID",
            "concat('Whole genome sequencing of ', organism) AS title",
            "coalesce(instrument_model, "
            f"'{SRA_DEFAULTS['instrument_model']}') AS instrument_model",
            "filename",
            "filename2",
            "ccgp_project_id",
            # X8: the remaining defaults as literal columns
            *(
                f"'{default}' AS {col}"
                for col, default in SRA_DEFAULTS.items()
                if col != "instrument_model"
            ),
        )
    )
