"""The custom Python Data Source must agree with the driver-side zip
reader: same members, same row counts, same per-member line numbering,
and one Spark partition per member."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.sources.clinical import SCREENING_CSV, read_zip_member
from dbt_slabbing_spark.sources.zip_datasource import ZipCsvDataSource

REF_ZIP = "/root/reference/EA1141-Reviewed-Clinical-Data-and-Data-Dictionaries.zip"

needs_reference = pytest.mark.skipif(
    not os.path.exists(REF_ZIP), reason="reference checkout not present"
)


def _load(spark):
    spark.dataSource.register(ZipCsvDataSource)
    return spark.read.format("zip_csv").option("path", REF_ZIP).load()


@needs_reference
def test_zip_datasource_matches_driver_side_reader(spark):
    df = _load(spark).filter(F.col("member") == SCREENING_CSV).cache()
    via_driver = read_zip_member(spark, REF_ZIP, SCREENING_CSV)
    assert df.count() == via_driver.count()
    # _line_no is a dense 0-based per-member sequence
    n = df.count()
    assert df.agg(F.min("_line_no"), F.max("_line_no")).first() == (0, n - 1)
    assert df.select("_line_no").distinct().count() == n
    # the last comma-field is SUBJECT_DE, same values as the driver reader
    subj = sorted(
        r[0] for r in df.select(F.element_at(F.split("line", ","), -1)).collect()
    )
    assert subj == sorted(r[0] for r in via_driver.select("SUBJECT_DE").collect())
    df.unpersist()


@needs_reference
def test_zip_datasource_partition_per_member(spark):
    df = _load(spark)
    members = df.select("member").distinct().count()
    assert members >= 7  # the seven clinical CSVs
    assert df.rdd.getNumPartitions() == members
