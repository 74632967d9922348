"""Streaming reader over a governed table while DV deletes land
(`follow_changes` — the Delta "streaming from a table with deletion
vectors" shape): every pulled batch is internally consistent with the
snapshot pair it pins, a consumer folding the stream reconstructs
every snapshot exactly, and no dead (DV'd) row ever surfaces as live.
"""

from __future__ import annotations

import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dbt_slabbing_spark.operators.layout import (
    append_files,
    delete_rows,
    follow_changes,
    manifest_versions,
    read_table,
    vacuum_orphans,
)


def _fold(state: Counter, changes) -> Counter:
    """Apply a change batch to a multiset state (+insert, -delete)."""
    for r in changes.collect():
        d = (r["k"], r["v"])
        if r["_change_type"] == "insert":
            state[d] += 1
        else:
            state[d] -= 1
    return +state  # drop zeros


def _snapshot(spark, target) -> Counter:
    return Counter(
        (r["k"], r["v"]) for r in read_table(spark, target).collect()
    )


@pytest.fixture()
def target(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    append_files(spark, t, df.coalesce(4))
    return t


def test_interleaved_pulls_reconstruct_every_snapshot(spark, target):
    """Deterministic interleave: DV delete / append / pull, repeatedly.
    The folded stream equals the snapshot at every pulled version."""
    _, ver = follow_changes(spark, target, None)
    state = _snapshot(spark, target)
    for step in range(4):
        delete_rows(spark, target, f"k % 7 = {step}", mode="dv")
        if step % 2:
            append_files(
                spark,
                target,
                spark.range(5).select(
                    (F.col("id") + 1000 + 100 * step).alias("k"),
                    F.lit(-1.0).alias("v"),
                ),
            )
        changes, ver2 = follow_changes(spark, target, ver)
        assert ver2 > ver
        state = _fold(state, changes)
        assert state == _snapshot(spark, target)
        # no dead row surfaces: every k the deletes killed is gone
        assert not any(k % 7 == step and k < 400 for k, _ in state)
        ver = ver2
    # idle pull: nothing new
    changes, ver3 = follow_changes(spark, target, ver)
    assert changes is None and ver3 == ver


def test_concurrent_dv_deletes_while_pulling(spark, target):
    """DV deletes land from a WRITER THREAD while the reader pulls:
    each batch pins its version range at read time, so late commits
    never tear a batch — the fold matches the snapshot at the pulled
    version, and the reader converges to the final state after the
    writer stops."""
    stop = threading.Event()
    errors: list[Exception] = []

    def writer():
        try:
            for i in range(12):
                delete_rows(spark, target, f"k % 31 = {i}", mode="dv")
        except Exception as e:  # surface, don't swallow
            errors.append(e)
        finally:
            stop.set()

    w = threading.Thread(target=writer)
    _, ver = follow_changes(spark, target, None)
    state = _snapshot(spark, target)
    w.start()
    pulls = 0
    try:
        while not (stop.is_set() and follow_changes(spark, target, ver)[0] is None):
            changes, ver2 = follow_changes(spark, target, ver)
            if changes is None:
                continue
            pinned = read_table(spark, target, version=ver2)
            state = _fold(state, changes)
            # internally consistent with the PINNED snapshot, even if
            # more deletes landed while this batch was being read
            assert state == Counter(
                (r["k"], r["v"]) for r in pinned.collect()
            )
            ver = ver2
            pulls += 1
    finally:
        w.join()
    assert not errors
    assert pulls >= 2  # the interleave actually exercised multiple batches
    assert state == _snapshot(spark, target)
    assert not any(k % 31 < 12 for k, _ in state)


def test_backfill_respects_vacuum_horizon(spark, target):
    """Vacuum interaction, both sides of the r14 commit-time-CDC line:
    with change files retained, a pull over a vacuumed COW range now
    SUCCEEDS (the feed reads staged change rows, not displaced
    snapshot files — Delta CDF's property; pre-r14 this raised); once
    the change files themselves are gone (history pruned, then
    vacuumed), the pull raises cleanly instead of emitting a partial
    batch."""
    from dbt_slabbing_spark.operators.layout import prune_history

    v0 = manifest_versions(target)[-1]
    delete_rows(spark, target, "k < 100", mode="cow")
    delete_rows(spark, target, "k < 200", mode="cow")
    vacuum_orphans(target, grace_seconds=0)
    changes, _ = follow_changes(spark, target, v0)
    assert changes.filter("_change_type = 'delete'").count() == 200
    assert changes.filter("_change_type = 'insert'").count() == 0
    # drop the change-file history too: the range is now unservable
    prune_history(target, retain_versions=0)
    vacuum_orphans(target, grace_seconds=0)
    with pytest.raises((FileNotFoundError, ValueError)):
        changes, _ = follow_changes(spark, target, v0)
        changes.collect()
    # tailing from the current version still works
    _, cur = follow_changes(spark, target, None)
    delete_rows(spark, target, "k < 250", mode="dv")
    changes, _ = follow_changes(spark, target, cur)
    assert changes.filter("_change_type = 'delete'").count() == 50


def test_replicate_changes_end_to_end(spark, tmp_path):
    """CDC replication: net-effect-per-key apply keeps the downstream
    row-identical through delete/update/append churn; replaying an
    already-applied range is a no-op; idle pulls return None."""
    from dbt_slabbing_spark.operators.layout import (
        clone_table,
        replicate_changes,
        update_rows,
    )

    up, down = str(tmp_path / "up"), str(tmp_path / "down")
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    append_files(spark, up, df.coalesce(3))
    clone_table(up, down)
    _, v0 = follow_changes(spark, up, None)
    ver = v0
    delete_rows(spark, up, "k < 6", mode="dv")
    update_rows(spark, up, "k >= 55", {"v": "v + 100"}, mode="cow")
    append_files(
        spark, up, spark.createDataFrame([(200, 1.5)], "k long, v double")
    )
    st, ver = replicate_changes(spark, up, down, ["k"], ver)
    assert st["rows_deleted"] == 6
    assert st["rows_updated"] == 5 and st["rows_inserted"] == 1

    def _c(t):
        return sorted(map(tuple, read_table(spark, t).collect()))

    assert _c(up) == _c(down)
    # churn: delete + re-insert same key, delete-only another
    delete_rows(spark, up, "k = 10", mode="dv")
    append_files(
        spark, up, spark.createDataFrame([(10, 999.0)], "k long, v double")
    )
    delete_rows(spark, up, "k = 11", mode="dv")
    st, ver = replicate_changes(spark, up, down, ["k"], ver)
    assert st["rows_deleted"] == 1 and st["rows_updated"] == 1
    assert _c(up) == _c(down)
    # idempotent replay of the FULL range
    replicate_changes(spark, up, down, ["k"], v0)
    assert _c(up) == _c(down)
    # idle
    st, v2 = replicate_changes(spark, up, down, ["k"], ver)
    assert st is None and v2 == ver


def test_replicate_changes_releases_cached_frames_on_failure(
    spark, tmp_path, monkeypatch
):
    """A failing apply still unpersists the net-effect frames the
    replication step cached."""
    from dbt_slabbing_spark.operators import layout
    from dbt_slabbing_spark.operators.layout import clone_table, replicate_changes

    up, down = str(tmp_path / "up"), str(tmp_path / "down")
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    append_files(spark, up, df.coalesce(2))
    clone_table(up, down)
    _, v0 = follow_changes(spark, up, None)
    delete_rows(spark, up, "k < 3", mode="dv")
    append_files(
        spark, up, spark.createDataFrame([(200, 1.5)], "k long, v double")
    )

    def boom(*a, **kw):
        raise RuntimeError("injected: merge failed")

    monkeypatch.setattr(layout, "merge_rows", boom)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="injected"):
        replicate_changes(spark, up, down, ["k"], v0)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
