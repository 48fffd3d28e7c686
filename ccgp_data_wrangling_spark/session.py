"""SparkSession factory with scale-aware defaults.

Local testing runs a single JVM (``local[N]``); production targets a
multi-executor cluster. All tuning here is expressed so the same code
works in both: AQE for runtime re-planning (partition coalescing,
skew-join splitting), UTC session timezone so results compare cleanly
against the DuckDB oracle, and Arrow for any pandas-interop path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ccgp_data_wrangling_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults:
      * master from $SPARK_GRAFT_CPUS (``local[N]``) else ``local[*]``
      * shuffle partitions ~ cores in local mode (the 200 default
        over-parallelizes small local runs and under-parallelizes
        large clusters; clusters should pass an explicit value or rely
        on AQE coalescing from a higher initial number)
      * AQE on: coalesce post-shuffle partitions, split skewed joins
      * UTC timezone (oracle comparison + determinism)
      * Arrow enabled for the pandas-UDF slow path
      * no console progress bars: stage bars would fill stdout
      * local mode: 4 MB Tungsten pages. The default page is sized
        from the heap (32 MB on a 2 GB heap). Pages are G1 humongous
        objects that only a young GC frees, so a plan that makes
        little garbage piles up dead pages between GCs; small pages
        keep that pile small.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # some inputs (events.parquet) carry TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    if master.startswith("local"):
        builder = builder.config("spark.buffer.pageSize", "4m")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
