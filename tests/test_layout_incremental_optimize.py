"""Incremental OPTIMIZE (`compact_incremental`): only files appended
since the last clustering pass are rewritten; the clustered bulk is
byte-untouched; clustering state tracks through commits."""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.layout import (
    _MANIFEST,
    append_files,
    compact_incremental,
    compact_table,
    delete_rows,
    read_table,
)
from tests.conftest import SF_SMOKE


def _doc(target):
    return json.loads((pathlib.Path(target) / _MANIFEST).read_text())


def _identity(target, names):
    return {
        n: (
            (pathlib.Path(target) / n).stat().st_ino,
            (pathlib.Path(target) / n).stat().st_mtime_ns,
        )
        for n in names
    }


@pytest.fixture()
def clustered(spark, tmp_path):
    target = str(tmp_path / "events")
    ev = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    append_files(spark, target, ev.repartition(4))
    compact_table(spark, target, target_file_bytes=64 * 1024, cluster_by=["value"])
    rows = {r["event_id"]: r for r in ev.collect()}
    return target, rows


def test_incremental_rewrites_only_new_files(spark, clustered):
    target, rows = clustered
    bulk = list(_doc(target)["clustered"]["files"])
    before = _identity(target, bulk)
    extra_rows = [(-i, i, "late", float(i)) for i in range(1, 7)]
    for i in (0, 2, 4):
        late = spark.createDataFrame(
            extra_rows[i : i + 2],
            "event_id bigint, user_id bigint, event_type string, value double",
        )
        append_files(spark, target, late.coalesce(1))
    v_before = _doc(target)["version"]
    st = compact_incremental(spark, target, target_file_bytes=1 << 30)
    assert st["n_files_rewritten"] == 3
    # the clustered bulk is BYTE-untouched (same inode + mtime)
    assert _identity(target, bulk) == before
    doc = _doc(target)
    assert set(bulk) <= set(doc["clustered"]["files"])
    assert set(doc["clustered"]["files"]) == set(doc["files"])
    got = {r["event_id"] for r in read_table(spark, target).collect()}
    assert got == set(rows) | {-i for i in range(1, 7)}
    # the rewritten files stay on disk: the pre-compaction snapshot is
    # still time-travel-readable until vacuum reclaims it
    old = {r["event_id"] for r in read_table(spark, target, version=v_before).collect()}
    assert old == got


def test_incremental_noop_below_min_files(spark, clustered):
    target, _rows = clustered
    late = spark.createDataFrame(
        [(-1, 1, "late", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    append_files(spark, target, late.coalesce(1))
    v = _doc(target)["version"]
    st = compact_incremental(spark, target, min_files=2)
    assert st["n_files_rewritten"] == 0
    assert _doc(target)["version"] == v  # no commit churn


def test_incremental_requires_clustering_state(spark, tmp_path):
    target = str(tmp_path / "plain")
    ev = table(spark, SF_SMOKE, "events").select("event_id", "value")
    append_files(spark, target, ev.coalesce(1))
    with pytest.raises(ValueError, match="no clustering state"):
        compact_incremental(spark, target)


def test_incremental_materializes_dv_on_rewritten_files(spark, clustered):
    target, rows = clustered
    for i in (1, 2):
        late = spark.createDataFrame(
            [(-10 * i, i, "late", float(i))],
            "event_id bigint, user_id bigint, event_type string, value double",
        )
        append_files(spark, target, late.coalesce(1))
    delete_rows(spark, target, "event_id = -10", mode="dv")
    compact_incremental(spark, target, target_file_bytes=1 << 30)
    doc = _doc(target)
    assert "dv" not in doc or not doc["dv"]  # the DV'd file was rewritten
    got = {r["event_id"] for r in read_table(spark, target).collect()}
    assert got == set(rows) | {-20}


def test_full_compact_without_clustering_drops_state(spark, clustered):
    target, _rows = clustered
    compact_table(spark, target, target_file_bytes=1 << 30)
    assert "clustered" not in _doc(target)
    with pytest.raises(ValueError, match="no clustering state"):
        compact_incremental(spark, target)
