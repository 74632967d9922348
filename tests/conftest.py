"""Shared fixtures: one tuned SparkSession per test run, sf dirs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dbt_slabbing_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


def _next_job_id(spark) -> int:
    """The id the session's scheduler gives its next job."""
    n = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    return int(n if isinstance(n, int) else n.get())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dbt_slabbing_spark_tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_SMOKE}/{t}.parquet')"
        )
    yield con
    con.close()
