"""The shared DELETE/UPDATE/MERGE write path (`layout._mutate`).

Every mutation acquires the same things: a `{table}.{op}-{token}`
staging directory beside the table and, for MERGE, a cached source.
These tests force a failure between staging and the commit, and check
that each (op, mode) pair releases both and publishes nothing. They
also pin each pair's returned stats key set and its `rows_after`
against a real count, with the DV inline cap at its default and at 1,
and the row-count fallback for a file whose footer cannot be read.
"""

from __future__ import annotations

import pathlib

import pytest

import dbt_slabbing_spark.operators.layout as L
from dbt_slabbing_spark.operators.layout import (
    add_constraint,
    append_files,
    delete_rows,
    manifest_versions,
    merge_rows,
    read_table,
    update_rows,
)

BASE_KEYS = {"rows_before", "rows_after", "n_files_total", "n_files_rewritten"}
KEYS = {
    "delete": BASE_KEYS | {"rows_deleted"},
    "update": BASE_KEYS | {"rows_updated", "n_files_added"},
    "merge": BASE_KEYS
    | {"rows_updated", "rows_deleted", "rows_inserted", "n_files_added"},
    "clause_merge": BASE_KEYS
    | {"rows_updated", "rows_deleted", "rows_inserted", "n_files_added"},
}


def _source(spark):
    # keys 3 and 4 match target rows, 30 and 31 are new
    return spark.createDataFrame(
        [(3, 100.0, "src"), (4, 7.0, "src"), (30, 50.0, "new"), (31, 5.0, "new")],
        "k long, v double, tag string",
    )


OPS = {
    "delete": lambda spark, t, mode: delete_rows(spark, t, "k % 3 = 0", mode=mode),
    "update": lambda spark, t, mode: update_rows(
        spark, t, "k % 4 = 0", {"v": "v + 1.0"}, mode=mode
    ),
    "merge": lambda spark, t, mode: merge_rows(
        spark, t, _source(spark), on="k", mode=mode
    ),
    "clause_merge": lambda spark, t, mode: merge_rows(
        spark, t, _source(spark), on="k", mode=mode,
        when_matched_delete="s.v > 50",
    ),
}


@pytest.fixture()
def target(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, float(i), "old") for i in range(20)], "k long, v double, tag string"
    )
    append_files(spark, t, df.coalesce(4))
    return t


def _siblings(t: str) -> list[str]:
    p = pathlib.Path(t)
    return sorted(q.name for q in p.parent.iterdir() if q.name.startswith(p.name + "."))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _assert_released(spark, t, version_before):
    assert manifest_versions(t)[-1] == version_before
    assert _siblings(t) == []
    assert _cache_empty(spark)


@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("op", list(OPS))
def test_failure_before_commit_releases_everything(
    spark, target, monkeypatch, op, mode
):
    spark.catalog.clearCache()
    before = manifest_versions(target)[-1]

    def boom(*a, **kw):
        raise RuntimeError("injected: change staging failed")

    monkeypatch.setattr(L, "_stage_change_rows", boom)
    with pytest.raises(RuntimeError, match="injected"):
        OPS[op](spark, target, mode)
    _assert_released(spark, target, before)


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_constraint_rejected_merge_releases_source(spark, target, mode):
    add_constraint(spark, target, "v_nonneg", "v >= 0")
    spark.catalog.clearCache()
    before = manifest_versions(target)[-1]
    bad = spark.createDataFrame([(3, -1.0, "src")], "k long, v double, tag string")
    with pytest.raises(L.ConstraintViolationError):
        merge_rows(spark, target, bad, on="k", mode=mode)
    _assert_released(spark, target, before)


def _check_success_stats(spark, target, op, mode):
    spark.catalog.clearCache()
    st = OPS[op](spark, target, mode)
    assert set(st) == KEYS[op] | ({"n_dv_files_added"} if mode == "dv" else set())
    assert st["rows_after"] == read_table(spark, target).count()
    assert _siblings(target) == []
    assert _cache_empty(spark)


@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("op", list(OPS))
def test_success_stats(spark, target, op, mode):
    _check_success_stats(spark, target, op, mode)


@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize("op", list(OPS))
def test_success_stats_past_the_dv_cap(spark, target, monkeypatch, op, mode):
    # every dead set past the DV inline cap: the scan falls back to the
    # anti-join, and rows_after must still equal the real count
    monkeypatch.setattr(L, "_DV_INLINE_CAP", 1)
    _check_success_stats(spark, target, op, mode)


@pytest.mark.parametrize("mode", ["cow", "dv"])
def test_row_count_falls_back_when_footer_unreadable(
    spark, target, monkeypatch, mode
):
    import json

    import pyarrow.parquet as pq

    p = pathlib.Path(target)
    doc = json.loads((p / "_manifest.json").read_text())
    lost = sorted(doc["files"])[0]
    del doc["rows"][lost]  # as if the file predated the rows record
    (p / "_manifest.json").write_text(json.dumps(doc))
    expected = read_table(spark, target).count()
    real = pq.ParquetFile

    def unreadable(source, *a, **kw):
        if str(source).endswith(lost):
            raise OSError("injected: unreadable footer")
        return real(source, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", unreadable)
    st = delete_rows(spark, target, "k = 5", mode=mode)
    assert st["rows_before"] == expected
    assert st["rows_after"] == expected - 1 == read_table(spark, target).count()
