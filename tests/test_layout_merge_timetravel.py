"""MERGE (copy-on-write upsert) and time-travel coverage for the
manifest table layer: `operators/layout.py::merge_rows`,
`read_table(version=...)`, `manifest_versions`, and vacuum retention."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.catalog import table
from dbt_slabbing_spark.operators import layout
from dbt_slabbing_spark.operators.layout import (
    append_files,
    delete_rows,
    ensure_manifest,
    manifest_versions,
    merge_rows,
    read_table,
    vacuum_orphans,
)
from tests.conftest import SF_SMOKE


def _write_events_by_user(spark, target: str):
    events = table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    events.repartitionByRange(8, "user_id").write.parquet(target)
    return {
        r["event_id"]: (r["user_id"], r["event_type"], r["value"])
        for r in events.collect()
    }


def test_merge_rows_updates_inserts_and_skips_clean_files(spark, tmp_path):
    """Record-key upsert: matched keys are replaced by the source row,
    unmatched source rows are inserted, stats are exact, and files with
    no matched key are NEITHER copied NOR rewritten (same inode/mtime)."""
    target = str(tmp_path / "events")
    before = _write_events_by_user(spark, target)

    # updates: keys in users 3..4 get value bumped and a marker type;
    # inserts: fresh negative keys (guaranteed absent)
    upd_keys = sorted(k for k, (u, _t, _v) in before.items() if 3 <= u <= 4)
    assert upd_keys  # non-vacuous
    src = (
        spark.createDataFrame(
            [(k, before[k][0], "merged", 42.0) for k in upd_keys]
            + [(-1, 999, "inserted", 1.0), (-2, 999, "inserted", 2.0)],
            "event_id bigint, user_id bigint, event_type string, value double",
        )
    )

    def identity():
        return {
            f.name: (f.stat().st_ino, f.stat().st_mtime_ns)
            for f in pathlib.Path(target).glob("*.parquet")
        }

    ensure_manifest(target)
    pre_id = identity()
    stats = merge_rows(spark, target, src, on="event_id", retain=False)
    assert stats["rows_before"] == len(before)
    assert stats["rows_updated"] == len(upd_keys)
    assert stats["rows_inserted"] == 2
    assert stats["rows_after"] == len(before) + 2
    assert 0 < stats["n_files_rewritten"] < stats["n_files_total"]

    post_id = identity()
    carried = set(pre_id) & set(post_id)
    assert carried and all(post_id[n] == pre_id[n] for n in carried)
    assert len(pre_id) - len(carried) == stats["n_files_rewritten"]

    got = {
        r["event_id"]: (r["user_id"], r["event_type"], r["value"])
        for r in read_table(spark, target).collect()
    }
    assert len(got) == len(before) + 2
    for k in upd_keys:
        assert got[k] == (before[k][0], "merged", 42.0)
    assert got[-1] == (999, "inserted", 1.0)
    assert got[-2] == (999, "inserted", 2.0)
    untouched = set(before) - set(upd_keys)
    assert all(got[k] == before[k] for k in untouched)


def test_merge_rows_rejects_duplicate_source_keys(spark, tmp_path):
    target = str(tmp_path / "t")
    _write_events_by_user(spark, target)
    dup = spark.createDataFrame(
        [(1, 1, "a", 0.0), (1, 2, "b", 0.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    with pytest.raises(ValueError, match="duplicate record keys"):
        merge_rows(spark, target, dup, on="event_id")


@pytest.mark.parametrize("mode", ["cow", "dv"])
@pytest.mark.parametrize(
    "clauses",
    [{}, {"when_matched_update_condition": "s.v IS NOT NULL"}],
    ids=["upsert", "conditioned"],
)
def test_merge_rows_replaces_all_duplicate_target_rows(spark, tmp_path, clauses, mode):
    """Hudi record-key semantics: a target holding N rows for a key
    ends with exactly ONE row (the source row) after the merge, and
    rows_updated counts all N replaced rows — `SET *` means the same
    under any clause set and either write mode."""
    target = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "k bigint, v string"
    )
    base.repartition(2).write.parquet(target)
    src = spark.createDataFrame([(1, "new")], "k bigint, v string")
    stats = merge_rows(spark, target, src, on="k", mode=mode, **clauses)
    assert stats["rows_updated"] == 2
    assert stats["rows_inserted"] == 0
    got = sorted(
        (r["k"], r["v"]) for r in read_table(spark, target).collect()
    )
    assert got == [(1, "new"), (2, "c")]


def test_time_travel_across_append_and_delete(spark, tmp_path):
    """Every mutation commits a new manifest version; `version=` reads
    reproduce each historical snapshot exactly when displaced files are
    retained; vacuum with retention keeps them readable, vacuum without
    makes travel past the boundary raise (the Delta VACUUM contract)."""
    target = str(tmp_path / "t")
    before = _write_events_by_user(spark, target)
    ensure_manifest(target)  # v1: adoption

    extra = spark.createDataFrame(
        [(-10, 999, "x", 0.5)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    append_files(spark, target, extra)  # v2
    delete_rows(spark, target, "user_id <= 2", retain=True)  # v3
    assert manifest_versions(target) == [1, 2, 3]

    v1 = {r["event_id"] for r in read_table(spark, target, version=1).collect()}
    v2 = {r["event_id"] for r in read_table(spark, target, version=2).collect()}
    v3 = {r["event_id"] for r in read_table(spark, target, version=3).collect()}
    survivors = {k for k, (u, _t, _v) in before.items() if u > 2}
    assert v1 == set(before)
    assert v2 == set(before) | {-10}
    assert v3 == survivors | {-10}
    # current read = latest version
    assert {r["event_id"] for r in read_table(spark, target).collect()} == v3

    # vacuum retaining 2 historical snapshots keeps v1/v2 readable
    removed = vacuum_orphans(target, retain_versions=2, grace_seconds=0.0)
    assert removed == []
    assert {
        r["event_id"] for r in read_table(spark, target, version=1).collect()
    } == set(before)

    # vacuum with NO retention reclaims the displaced originals and
    # time travel past the boundary raises instead of lying
    removed = vacuum_orphans(target, grace_seconds=0.0)
    assert removed  # the delete's displaced originals
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_table(spark, target, version=1)
    assert {r["event_id"] for r in read_table(spark, target).collect()} == v3


def test_merge_crash_before_commit_is_invisible(spark, tmp_path, monkeypatch):
    """Crash window: failure AT the manifest commit → readers still see
    the old snapshot; staged files are orphans vacuum reclaims; a retry
    converges."""
    target = str(tmp_path / "t")
    before = _write_events_by_user(spark, target)
    ensure_manifest(target)

    src = spark.createDataFrame(
        [(-1, 999, "ins", 1.0)],
        "event_id bigint, user_id bigint, event_type string, value double",
    )
    real_commit = layout._commit_manifest

    def boom(p, files, expected_version=None, added=None, **kw):
        raise OSError("injected: crash at manifest commit")

    monkeypatch.setattr(layout, "_commit_manifest", boom)
    with pytest.raises(OSError, match="injected"):
        merge_rows(spark, target, src, on="event_id")
    monkeypatch.setattr(layout, "_commit_manifest", real_commit)

    assert {
        r["event_id"] for r in read_table(spark, target).collect()
    } == set(before)
    vacuum_orphans(target, grace_seconds=0.0)
    stats = merge_rows(spark, target, src, on="event_id", retain=False)
    assert stats["rows_inserted"] == 1
    assert {
        r["event_id"] for r in read_table(spark, target).collect()
    } == set(before) | {-1}


# ---------------------------------------------------------------------------
# Round-11: read_changes (snapshot diff / change-data-feed)
# ---------------------------------------------------------------------------


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k int, v double")


def test_read_changes_append_only_fast_path(spark, tmp_path):
    """Appends-only range: the diff is exactly the appended rows,
    served from the NEW files alone (fast path), tagged 'insert'."""
    from dbt_slabbing_spark.operators.layout import read_changes

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0)]).coalesce(1))
    v1 = manifest_versions(t)[-1]
    append_files(spark, t, _mk(spark, [(3, 3.0), (4, 4.0)]).coalesce(1))
    v2 = manifest_versions(t)[-1]
    chg = read_changes(spark, t, v1, v2)
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in chg.collect())
    assert got == [(3, 3.0, "insert"), (4, 4.0, "insert")]
    # fast path scans only the new files: the plan references no
    # v1 file
    v1_files = set(layout._files_at_version(layout._load(pathlib.Path(t)), v1))
    scanned = {
        r[0].rsplit("/", 1)[-1]
        for r in chg.select(F.input_file_name()).distinct().collect()
    }
    assert scanned.isdisjoint(v1_files)


def test_read_changes_compaction_only_is_empty(spark, tmp_path):
    """Compaction rewrites every file but no row: the row-level
    fallback must return an EMPTY diff."""
    from dbt_slabbing_spark.operators.layout import compact_table, read_changes

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0), (2, 2.0), (2, 2.0)]).coalesce(2))
    v1 = manifest_versions(t)[-1]
    compact_table(spark, t)
    v2 = manifest_versions(t)[-1]
    assert read_changes(spark, t, v1, v2).count() == 0


def test_read_changes_delete_and_duplicates(spark, tmp_path):
    """DELETE range surfaces removed rows as 'delete'; duplicate rows
    diff with multiset semantics (exceptAll): deleting one table's
    worth of duplicates reports them all."""
    from dbt_slabbing_spark.operators.layout import read_changes

    t = str(tmp_path / "t")
    append_files(
        spark, t, _mk(spark, [(1, 1.0), (2, 5.0), (2, 5.0), (3, 9.0)]).coalesce(1)
    )
    v1 = manifest_versions(t)[-1]
    delete_rows(spark, t, F.col("v") > 4.0, retain=True)
    v2 = manifest_versions(t)[-1]
    chg = read_changes(spark, t, v1, v2)
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in chg.collect())
    assert got == [(2, 5.0, "delete"), (2, 5.0, "delete"), (3, 9.0, "delete")]


def test_read_changes_noop_and_validation(spark, tmp_path):
    from dbt_slabbing_spark.operators.layout import read_changes

    t = str(tmp_path / "t")
    append_files(spark, t, _mk(spark, [(1, 1.0)]).coalesce(1))
    v = manifest_versions(t)[-1]
    empty = read_changes(spark, t, v, v)
    assert empty.count() == 0
    assert set(empty.columns) == {"k", "v", "_change_type"}
    with pytest.raises(ValueError, match="v_to"):
        read_changes(spark, t, v, v - 1)
    with pytest.raises(ValueError, match="manifest"):
        read_changes(spark, str(tmp_path / "nope"), 1, 2)
