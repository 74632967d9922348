"""The catalog infers a plain parquet file's schema once per process.

``catalog.table`` reads through ``catalog._read_parquet_file``: the first
read of a file runs Spark's schema-inference job and keeps the schema
Spark inferred; a later read of the unchanged file under the same schema
confs passes it to the reader and plans without a job. Job counts are
``nextJobId`` deltas, so they include every job the scheduler started.
"""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dbt_slabbing_spark import catalog
from dbt_slabbing_spark.catalog import TABLES, _normalize_event_time, _read_parquet_file, table
from tests.conftest import SF_SMOKE, _next_job_id

#: the registry queries of the perfbench ``queries`` workload
PERFBENCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q21_sole_late_supplier",
    "window_topk_orders_per_customer",
    "sim_neardup_pairs",
    "udf_udtf_chunk_text",
    "udf_pandas_scalar_bytelen",
)


@pytest.fixture
def empty_memo(monkeypatch):
    memo: dict = {}
    monkeypatch.setattr(catalog, "_schema_memo", memo)
    return memo


@pytest.mark.parametrize("name", TABLES)
def test_warm_table_plans_without_a_job(spark, name):
    table(spark, SF_SMOKE, name)
    before = _next_job_id(spark)
    warm = table(spark, SF_SMOKE, name)
    assert _next_job_id(spark) - before == 0
    ref = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet")
    if name == "events":
        ref = _normalize_event_time(ref)
    assert warm.schema == ref.schema
    assert sorted(warm.collect(), key=repr) == sorted(ref.collect(), key=repr)


@pytest.mark.parametrize("how", ["replace", "rewrite"])
def test_changed_file_is_inferred_again(spark, tmp_path, how):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert _read_parquet_file(spark, path).columns == ["a"]
    assert _read_parquet_file(spark, path).columns == ["a"]
    new = pa.table({"b": ["x"], "c": [1.5]})
    if how == "replace":  # a new inode at the same path
        pq.write_table(new, path + ".tmp")
        os.replace(path + ".tmp", path)
    else:  # the same inode, truncated and written again
        pq.write_table(new, path)
    again = _read_parquet_file(spark, path)
    assert again.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in again.collect()] == [("x", 1.5)]


def test_binary_as_string_conf_changes_the_type(spark, tmp_path):
    key = "spark.sql.parquet.binaryAsString"
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert dict(_read_parquet_file(spark, path).dtypes)["b"] == "binary"
        assert dict(_read_parquet_file(spark, path).dtypes)["b"] == "binary"
        spark.conf.set(key, "true")
        df = _read_parquet_file(spark, path)
        assert dict(df.dtypes)["b"] == "string"
        assert df.collect()[0]["b"] == "ab"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_events_ts_type_is_the_same_cold_and_warm(spark, empty_memo):
    cold = table(spark, SF_SMOKE, "events")
    assert len(empty_memo) == 1
    warm = table(spark, SF_SMOKE, "events")
    assert dict(cold.dtypes)["ts"] == dict(warm.dtypes)["ts"] == "timestamp"
    assert warm.schema == cold.schema


def test_memo_stays_within_its_cap(spark, empty_memo, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_CAP", 2)
    for name in ("region", "nation", "customer", "supplier"):
        table(spark, SF_SMOKE, name)
        assert len(empty_memo) <= 2
    # the oldest pins went first
    kept = sorted(os.path.basename(k[0]) for k in empty_memo)
    assert kept == ["customer.parquet", "supplier.parquet"]


def test_memo_cap_holds_under_concurrent_reads(spark, empty_memo, monkeypatch):
    """More threads than cores read four files through a 2-entry memo:
    every read gets its file's schema and the memo ends within its cap."""
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_CAP", 2)
    names = ("region", "nation", "customer", "supplier")
    want = {n: spark.read.parquet(f"{SF_SMOKE}/{n}.parquet").schema for n in names}

    def read(i: int) -> bool:
        n = names[i % len(names)]
        return table(spark, SF_SMOKE, n).schema == want[n]

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            assert all(pool.map(read, range(48), timeout=300))
    finally:
        sys.setswitchinterval(old)
    assert len(empty_memo) <= 2


def test_directory_path_reads_as_before(spark, tmp_path, empty_memo):
    d = tmp_path / "region.parquet"
    d.mkdir()
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), str(d / "part-0.parquet"))
    pq.write_table(pa.table({"r_regionkey": [2]}), str(d / "part-1.parquet"))
    for _ in range(2):
        got = table(spark, str(tmp_path), "region")
        assert sorted(r[0] for r in got.collect()) == [0, 1, 2]
    assert empty_memo == {}


@pytest.mark.parametrize("name", PERFBENCH_QUERIES)
def test_warm_query_builds_without_a_job(spark, name):
    """Building a warm perfbench query runs no Spark job, except the
    row-count guard of ``sim_neardup_pairs`` (one count of its scan)."""
    from dbt_slabbing_spark.queries import registry

    fn = registry()[name].fn
    fn(spark, SF_SMOKE)
    before = _next_job_id(spark)
    fn(spark, SF_SMOKE)
    assert _next_job_id(spark) - before <= (2 if name == "sim_neardup_pairs" else 0)
