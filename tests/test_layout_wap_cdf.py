"""Write-audit-publish staging (`stage_append` / `read_staged` /
`publish_staged` / `discard_staged`) and CDF update pre/post images
(`read_changes(keys=)`)."""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.layout import (
    _MANIFEST,
    append_files,
    discard_staged,
    manifest_versions,
    merge_rows,
    publish_staged,
    read_changes,
    read_staged,
    read_table,
    stage_append,
    vacuum_orphans,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def base(spark, tmp_path):
    target = str(tmp_path / "events")
    ev = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    append_files(spark, target, ev.filter(F.col("event_id") % 2 == 0).coalesce(2))
    rows = {
        r["event_id"]: r
        for r in ev.filter(F.col("event_id") % 2 == 0).collect()
    }
    return target, rows


def test_cdf_update_images(spark, base):
    target, rows = base
    v0 = manifest_versions(target)[-1]
    upd_keys = sorted(rows)[:5]
    src = spark.createDataFrame(
        [(k, rows[k]["user_id"], "merged", 42.0) for k in upd_keys]
        + [(-1, 999, "inserted", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    merge_rows(spark, target, src, on="event_id", retain=True)
    v1 = manifest_versions(target)[-1]
    ch = read_changes(spark, target, v0, v1, keys=["event_id"]).collect()
    by_type: dict[str, set] = {}
    for r in ch:
        by_type.setdefault(r["_change_type"], set()).add(r["event_id"])
    assert by_type["update_preimage"] == set(upd_keys)
    assert by_type["update_postimage"] == set(upd_keys)
    assert by_type["insert"] == {-1}
    assert "delete" not in by_type
    # pre rows carry OLD values, post rows NEW
    pre = {r["event_id"]: r for r in ch if r["_change_type"] == "update_preimage"}
    post = {r["event_id"]: r for r in ch if r["_change_type"] == "update_postimage"}
    for k in upd_keys:
        assert pre[k]["event_type"] == rows[k]["event_type"]
        assert post[k]["event_type"] == "merged" and post[k]["value"] == 42.0


def test_cdf_keys_on_append_only_range_is_all_inserts(spark, base):
    target, _rows = base
    v0 = manifest_versions(target)[-1]
    extra = spark.createDataFrame(
        [(-7, 1, "x", 0.5)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    append_files(spark, target, extra.coalesce(1))
    v1 = manifest_versions(target)[-1]
    ch = read_changes(spark, target, v0, v1, keys=["event_id"]).collect()
    assert {r["_change_type"] for r in ch} == {"insert"}
    assert {r["event_id"] for r in ch} == {-7}


def test_wap_stage_is_invisible_then_publishes(spark, base):
    target, rows = base
    n0 = read_table(spark, target).count()
    batch = spark.createDataFrame(
        [(-10, 1, "staged", 1.0), (-11, 2, "staged", 2.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    st = stage_append(spark, target, batch.coalesce(1), audit_id="a1")
    assert st["n_files_staged"] == 1
    # invisible: live reads, version reads, and CHANGES all pre-publish
    assert read_table(spark, target).count() == n0
    doc = json.loads((pathlib.Path(target) / _MANIFEST).read_text())
    assert doc["staged"]["a1"]
    assert all(n not in doc["files"] for n in doc["staged"]["a1"])
    # the audit reads exactly the batch
    audit = read_staged(spark, target, "a1")
    assert audit.count() == 2
    assert audit.filter(F.col("value").isNull()).count() == 0  # the gate
    # vacuum cannot reap a registered staged batch
    assert vacuum_orphans(target, grace_seconds=0.0) == []
    pub = publish_staged(spark, target, "a1")
    assert pub["n_files_published"] == 1
    got = read_table(spark, target)
    assert got.count() == n0 + 2
    assert got.filter(F.col("event_type") == "staged").count() == 2
    doc = json.loads((pathlib.Path(target) / _MANIFEST).read_text())
    assert "staged" not in doc
    # published files carry write-time stats like any append
    pub_files = [n for n in doc["files"] if n.startswith("staged-a1-")]
    assert pub_files and all(
        doc["stats"].get(n, {}).get("event_id") for n in pub_files
    )


def test_wap_discard_leaves_no_trace(spark, base):
    target, _rows = base
    n0 = read_table(spark, target).count()
    batch = spark.createDataFrame(
        [(-20, 1, "bad", None)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    stage_append(spark, target, batch.coalesce(1), audit_id="bad1")
    # audit fails (NULL value) → discard
    assert read_staged(spark, target, "bad1").filter(
        F.col("value").isNull()
    ).count() == 1
    st = discard_staged(target, "bad1")
    assert st["n_files_discarded"] == 1
    assert read_table(spark, target).count() == n0
    assert not list(pathlib.Path(target).glob("staged-bad1-*"))
    with pytest.raises(ValueError, match="no staged batch"):
        read_staged(spark, target, "bad1")


def test_wap_duplicate_audit_id_rejected(spark, base):
    target, _rows = base
    batch = spark.createDataFrame(
        [(-30, 1, "x", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    stage_append(spark, target, batch.coalesce(1), audit_id="dup")
    with pytest.raises(ValueError, match="already staged"):
        stage_append(spark, target, batch.coalesce(1), audit_id="dup")


def test_wap_publish_revalidates_late_constraints(spark, base):
    """A constraint registered BETWEEN stage and publish still gates
    the publish (the batch enters the table there)."""
    from dbt_slabbing_spark.operators.layout import (
        ConstraintViolationError,
        add_constraint,
    )

    target, _rows = base
    bad = spark.createDataFrame(
        [(-40, 1, "x", -9.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    stage_append(spark, target, bad.coalesce(1), audit_id="late")
    add_constraint(spark, target, "value_nonneg", "value >= 0")
    with pytest.raises(ConstraintViolationError):
        publish_staged(spark, target, "late")
    # the batch stays staged (discardable), the table untouched
    assert read_table(spark, target).filter(F.col("event_id") == -40).count() == 0
    discard_staged(target, "late")


def test_dv_time_travel_to_vacuumed_dv_raises_clearly(spark, base):
    """Travel to a version whose DV parquets were vacuumed fails with
    the same 'references vacuumed files' contract as data files."""
    from dbt_slabbing_spark.operators.layout import (
        compact_table,
        delete_rows,
        vacuum_orphans,
    )

    target, _rows = base
    delete_rows(spark, target, "event_type = 'click'", mode="dv")
    v_dv = manifest_versions(target)[-1]
    compact_table(spark, target, target_file_bytes=1 << 30)
    # retain nothing: the DV parquet and displaced files are reclaimed
    vacuum_orphans(target, grace_seconds=0.0)
    with pytest.raises(FileNotFoundError, match="references vacuumed"):
        read_table(spark, target, version=v_dv).collect()


def test_wap_replay_resumes_idempotently(spark, base):
    """The streaming landing contract (streaming/jobs.py::
    streaming_wap_landing): a replayed micro-batch resumes from
    whichever WAP step the crash interrupted — staged-not-published
    re-audits and publishes ONCE; already-published no-ops — so the
    table never sees a batch twice."""
    from dbt_slabbing_spark.streaming.jobs import _land_wap_batch

    target, _rows = base
    n0 = read_table(spark, target).count()
    batch = spark.createDataFrame(
        [(-50, 1, "b7", 1.0), (-51, 2, "b7", 2.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    aid = "b7"

    # attempt 1 "crashes" after stage, before publish
    stage_append(spark, target, batch.coalesce(1), audit_id=aid)
    assert read_table(spark, target).count() == n0  # invisible
    # replay: resumes at the audit/publish step, publishes once
    assert _land_wap_batch(spark, target, batch, aid) is True
    assert read_table(spark, target).count() == n0 + 2
    # replay again: prefix test short-circuits, nothing doubles
    assert _land_wap_batch(spark, target, batch, aid) is False
    assert read_table(spark, target).count() == n0 + 2
