"""Round-12 ADVICE regressions: concurrency + schema-evolution defects
in the manifest table layer.

1. `discard_staged` losing an OCC race to `publish_staged` must refuse
   (the batch's files are live — unlinking them is silent data loss).
2. `_scan_with_dv` on a schema-evolved table where DVs land only on one
   generation of files must conform each subset to the merged schema.
3. `add_constraint` must re-validate concurrently appended rows on each
   OCC rebase (Delta's ADD CONSTRAINT invariant).
4. Name-based column mapping must reject dropped-name reuse on write
   and rename targets that collide with un-mapped live columns.
5. `maintain_table` must treat a step's ManifestConflictError as "skip
   that step", not "abort the pass" — vacuum still runs.
"""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

import dbt_slabbing_spark.operators.layout as L
from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators.layout import (
    ConstraintViolationError,
    ManifestConflictError,
    add_constraint,
    append_files,
    delete_rows,
    discard_staged,
    drop_column,
    maintain_table,
    merge_rows,
    publish_staged,
    read_table,
    rename_column,
    stage_append,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events_table(spark, tmp_path):
    target = str(tmp_path / "events")
    ev = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    append_files(spark, target, ev.filter(F.col("event_id") % 2 == 0).coalesce(2))
    return target, ev


def test_discard_losing_race_to_publish_refuses(spark, events_table, monkeypatch):
    """discard_staged rebase: audit_id gone from the registry means a
    concurrent publish won — committing the stale no-op and unlinking
    would destroy LIVE files."""
    target, ev = events_table
    st = stage_append(
        spark, target, ev.filter(F.col("event_id") % 2 == 1).coalesce(1)
    )
    aid = st["audit_id"]
    n_before = read_table(spark, target).count()
    n_staged = ev.filter(F.col("event_id") % 2 == 1).count()

    real_commit = L._commit_manifest
    raced = {"done": False}

    def racing_commit(p, files, **kw):
        if not raced["done"]:
            raced["done"] = True
            publish_staged(spark, target, aid)  # concurrent winner
            raise ManifestConflictError("simulated lost race")
        return real_commit(p, files, **kw)

    monkeypatch.setattr(L, "_commit_manifest", racing_commit)
    with pytest.raises(ValueError, match="published or discarded"):
        discard_staged(target, aid)
    monkeypatch.setattr(L, "_commit_manifest", real_commit)

    # the published batch survives intact — nothing was unlinked
    assert read_table(spark, target).count() == n_before + n_staged


def test_dv_read_on_schema_evolved_table(spark, events_table):
    """DVs only on old-generation files; a column added by a later
    append must read as typed NULL from the dirty subset instead of
    raising AnalysisException."""
    target, ev = events_table
    append_files(
        spark,
        target,
        ev.filter(F.col("event_id") % 2 == 1)
        .withColumn("extra", F.col("value") * 2)
        .coalesce(1),
    )
    # DV-delete rows that live ONLY in the first (extra-less) files
    st = delete_rows(
        spark, target, "event_id % 2 = 0 AND value >= 150", mode="dv"
    )
    assert st["n_files_rewritten"] == 0
    df = read_table(spark, target, merge_schema=True)
    assert "extra" in df.columns
    rows = df.filter(F.col("event_id") % 2 == 0)
    assert rows.filter(F.col("value") >= 150).count() == 0
    assert rows.filter(F.col("extra").isNotNull()).count() == 0
    exp = ev.filter(
        (F.col("event_id") % 2 == 1)
        | ((F.col("event_id") % 2 == 0) & (F.col("value") < 150))
    ).count()
    assert df.count() == exp
    # predicates on the later-added column still work over the DV read
    st2 = delete_rows(spark, target, "extra > 100", mode="dv")
    assert st2["rows_deleted"] == ev.filter(
        (F.col("event_id") % 2 == 1) & (F.col("value") * 2 > 100)
    ).count()


def test_add_constraint_revalidates_on_rebase(spark, events_table, monkeypatch):
    """A concurrent append of violating rows between validation and
    commit must fail the ADD CONSTRAINT, not commit a constraint the
    table already violates."""
    target, ev = events_table
    bad = spark.createDataFrame(
        [(10_000_001, 1, "view", -5.0)],
        "event_id long, user_id long, event_type string, value double",
    )
    real_commit = L._commit_manifest
    raced = {"done": False}

    def racing_commit(p, files, **kw):
        if "constraints" in (kw.get("replace") or {}) and not raced["done"]:
            raced["done"] = True
            append_files(spark, target, bad)  # concurrent writer wins
            raise ManifestConflictError("simulated lost race")
        return real_commit(p, files, **kw)

    monkeypatch.setattr(L, "_commit_manifest", racing_commit)
    with pytest.raises(ConstraintViolationError, match="concurrently appended"):
        add_constraint(spark, target, "value_nonneg", "value >= 0")
    monkeypatch.setattr(L, "_commit_manifest", real_commit)
    assert L._load(pathlib.Path(target)).get("constraints", {}) == {}

    # clean concurrent append (no violation) lets the rebase commit
    ok = spark.createDataFrame(
        [(10_000_002, 1, "view", 5.0)],
        "event_id long, user_id long, event_type string, value double",
    )
    raced2 = {"done": False}

    def racing_ok(p, files, **kw):
        if "constraints" in (kw.get("replace") or {}) and not raced2["done"]:
            raced2["done"] = True
            append_files(spark, target, ok)
            raise ManifestConflictError("simulated lost race")
        return real_commit(p, files, **kw)

    monkeypatch.setattr(L, "_commit_manifest", racing_ok)
    # the table still holds the violating row from the first race
    delete_rows(spark, target, "value < 0")
    st = add_constraint(spark, target, "value_nonneg", "value >= 0")
    assert st["name"] == "value_nonneg"


def test_append_rejects_dropped_physical_name(spark, events_table):
    target, ev = events_table
    drop_column(target, "event_type")
    reuse = spark.createDataFrame(
        [(10_000_003, 1, "purchase", 5.0)],
        "event_id long, user_id long, event_type string, value double",
    )
    with pytest.raises(ValueError, match="dropped physical columns"):
        append_files(spark, target, reuse)
    with pytest.raises(ValueError, match="dropped physical columns"):
        stage_append(spark, target, reuse)
    with pytest.raises(ValueError, match="dropped physical columns"):
        merge_rows(spark, target, reuse, on="event_id")
    # omitting the dropped column appends fine
    append_files(spark, target, reuse.drop("event_type"))
    assert "event_type" not in read_table(spark, target).columns


def test_rename_onto_unmapped_live_column_rejected(spark, events_table):
    target, ev = events_table
    with pytest.raises(ValueError, match="collides with an existing column"):
        rename_column(target, "value", "user_id")
    # renaming to a fresh name, then back to the physical name, is fine
    rename_column(target, "value", "amount")
    rename_column(target, "amount", "value")
    assert set(read_table(spark, target).columns) == {
        "event_id", "user_id", "event_type", "value",
    }


def test_maintain_table_conflict_skips_step_and_still_vacuums(
    spark, events_table, monkeypatch
):
    target, ev = events_table
    for i in range(3):  # fragment past min_unclustered
        append_files(
            spark, target,
            ev.filter(F.col("event_id") % 2 == 1).limit(10).coalesce(1),
        )
    # a retained COW delete leaves displaced originals for vacuum
    delete_rows(spark, target, "value >= 150", retain=True)

    def conflicted(*a, **kw):
        raise ManifestConflictError("simulated live-writer conflict")

    monkeypatch.setattr(L, "compact_table", conflicted)
    st = maintain_table(
        spark, target, min_unclustered=2, retain_versions=0, grace_seconds=0.0
    )
    assert "optimize:skipped-conflict" in st["actions"]
    assert st["n_vacuumed"] > 0  # the pass reached vacuum despite the skip
