"""NCBI submission-sheet pipelines — reference
``create_sheets_ultimate.py`` (§3.3), one declarative DataFrame chain
per sheet type instead of iterrows mutation.
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
    gz = F.array_sort(
        F.filter(F.col("files"), lambda x: x.endswith(".gz"))
    )
    n = F.size(gz)
    pair_idx = F.sequence(F.lit(0), (n / 2).cast("int") - 1)
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
    # J3: attach instrument + uploaded flag from reads (left join on R1)
    r = reads.select(
        F.col("file_name").alias("filename"),
        "instrument_model",
        "uploaded_to_NCBI",
    )
    enriched = pairs.join(r, "filename", "left")
    # F8: drop pairs already uploaded
    not_uploaded = enriched.where(
        F.col("uploaded_to_NCBI").isNull() | (F.col("uploaded_to_NCBI") != "yes")
    )
    library_id = F.substring_index(F.col("filename"), "_R1", 1)
    return not_uploaded.select(
        F.col("sample_name").alias("*sample_name"),
        library_id.alias("library_ID"),
        F.concat(F.lit("Whole genome sequencing of "), F.col("organism")).alias(
            "title"
        ),
        F.coalesce(
            F.col("instrument_model"), F.lit(SRA_DEFAULTS["instrument_model"])
        ).alias("instrument_model"),
        "filename",
        "filename2",
        F.col("ccgp_project_id"),
        # X8: the remaining defaults as literal columns, in one select so
        # the plan is analysed once
        *(
            F.lit(default).alias(col)
            for col, default in SRA_DEFAULTS.items()
            if col != "instrument_model"
        ),
    )
