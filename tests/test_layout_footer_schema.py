"""Scan planning from the footer-recorded schema
(``operators/layout.py::_footer_schema`` / ``_read_parquet``): for files
Spark wrote, the pinned scan has exactly the schema Spark's own inference
gives, and building it runs no job; for any other footer, or merged
footers that disagree, the helper declines and Spark infers as before."""

from __future__ import annotations

import logging

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_slabbing_spark.operators.layout import (
    _footer_schema,
    _load,
    _read_parquet,
    ensure_manifest,
)
from tests.conftest import _next_job_id

# one column of every type the parity promise covers, as NOT NULL
# literals (the footer records nullable=false) ...
_TYPED = """SELECT 1 AS i, CAST(2 AS BIGINT) AS l, 'x' AS s, 1.5D AS d,
  CAST(1.25 AS DECIMAL(10, 2)) AS dec, DATE'2020-01-01' AS dt,
  TIMESTAMP'2020-01-01 00:00:00' AS ts,
  TIMESTAMP_NTZ'2020-01-01 00:00:00' AS tsn, CAST('ab' AS BINARY) AS b,
  array(1, 2) AS arr, map('a', 1) AS m, named_struct('x', 1, 'y', 'z') AS st"""
# ... and the same columns nullable, nested elements included
_NULLABLE = f"""SELECT * FROM ({_TYPED}) UNION ALL SELECT NULL, NULL, NULL,
  NULL, NULL, NULL, NULL, NULL, NULL, array(NULL), map('b', NULL),
  named_struct('x', NULL, 'y', NULL)"""


def _spark_files(spark, sql, d):
    spark.sql(sql).coalesce(1).write.parquet(str(d))
    return sorted(f.name for f in d.glob("*.parquet"))


@pytest.mark.parametrize("sql", [_TYPED, _NULLABLE], ids=["not_null", "nullable"])
@pytest.mark.parametrize("merge", [False, True], ids=["plain", "merged"])
def test_pinned_schema_equals_spark_inference(spark, tmp_path, sql, merge):
    d = tmp_path / "t"
    names = _spark_files(spark, sql, d)
    assert _footer_schema(d, names, merge) is not None
    before = _next_job_id(spark)
    pinned = _read_parquet(spark, d, names, merge)
    assert _next_job_id(spark) == before  # no inference job
    inferred = spark.read.parquet(str(d / names[0]))
    assert pinned.schema == inferred.schema  # nullability included
    assert pinned.collect() == inferred.collect()


def test_pyarrow_file_keeps_spark_inference(spark, tmp_path, caplog):
    d = tmp_path / "pa"
    d.mkdir()
    pq.write_table(pa.table({"k": [1, 2], "v": ["a", None]}), d / "a.parquet")
    with caplog.at_level(logging.DEBUG, logger="dbt_slabbing_spark"):
        assert _footer_schema(d, ["a.parquet"], False) is None
    assert "records no Spark schema" in caplog.text
    got = _read_parquet(spark, d, ["a.parquet"])
    assert got.schema == spark.read.parquet(str(d / "a.parquet")).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(str(d)).collect())


def test_disagreeing_merged_footers_keep_spark_inference(spark, tmp_path, caplog):
    d = tmp_path / "m"
    d.mkdir()
    names = []
    for i, sql in enumerate(
        ["SELECT CAST(1 AS BIGINT) AS k", "SELECT CAST(2 AS BIGINT) AS k, 'x' AS w"]
    ):
        (src,) = _spark_files(spark, sql, tmp_path / f"src{i}")
        (tmp_path / f"src{i}" / src).rename(d / f"f{i}.parquet")
        names.append(f"f{i}.parquet")
    # a plain scan samples one footer, as Spark does
    assert _footer_schema(d, names, False) is not None
    with caplog.at_level(logging.DEBUG, logger="dbt_slabbing_spark"):
        assert _footer_schema(d, names, True) is None
    assert "differs from the first" in caplog.text
    got = _read_parquet(spark, d, names, merge_schema=True)
    want = spark.read.option("mergeSchema", "true").parquet(*[str(d / n) for n in names])
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_commit_logs_an_unreadable_footer(tmp_path, caplog):
    # the adoption commit's one footer reader logs once, and the commit
    # records no facts for the file, so readers fall back per file
    (tmp_path / "bad.parquet").write_bytes(b"not parquet")
    with caplog.at_level(logging.DEBUG, logger="dbt_slabbing_spark"):
        assert ensure_manifest(tmp_path) == ["bad.parquet"]
    assert caplog.text.count("no footer record") == 1
    doc = _load(tmp_path)
    assert "bad.parquet" not in doc["stats"]
    assert "bad.parquet" not in doc.get("rows", {})
