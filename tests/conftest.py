from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from ccgp_data_wrangling_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    s = get_spark(app_name="ccgp-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


def jobs_in_group(sc, group, build):
    """Run ``build()`` under job group ``group``; return its result and
    the number of Spark jobs it launched."""
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def read_schema_parity(spark, monkeypatch):
    """Check every parquet read the MERGE operators make against Spark's
    own schema inference on the same path."""
    from ccgp_data_wrangling_spark.catalog import read_parquet
    from ccgp_data_wrangling_spark.operators import merge

    def checked(session, path):
        df = read_parquet(session, path)
        assert df.schema == session.read.parquet(path).schema, path
        return df

    monkeypatch.setattr(merge, "read_parquet", checked)
